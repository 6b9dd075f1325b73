"""Seeded survey-table generator for the served-pipeline benchmark.

Each workload gets parquet inputs made from ``--seed`` and a ``spec.json``
that states, per table, what the four endpoints must publish: the row
count, the ordered column list the naming rules predict, and which output
columns hold binary recodes or unwrapped false arrays. The program under
test only ever sees the parquet files.

Column names follow the survey grammar the naming layer handles
(``D_<9-digit CID>``, loop suffixes ``_N_N``, version tags ``_V2``,
``state_`` prefixes, one-off renames, false-array ``d_X_d_X`` names and the
sensitive-tier columns). The expected outputs are derived from the names
the generator chose, not from running the program.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shapes: every size the benchmark runs. "tiny" serves the smoke test only.
SHAPES = {
    "wide_schema": {"cols": 300, "rows": 200},
    "tall_profile": {"cols": 80, "rows": 10_000},
    "merge_versions": {"versions": 3, "shared": 150, "unique": 10, "rows": 4_000},
}
TINY = {
    "wide_schema": {"cols": 120, "rows": 40},
    "tall_profile": {"cols": 30, "rows": 200},
    "merge_versions": {"versions": 3, "shared": 20, "unique": 3, "rows": 100},
}
FILES_PER_TABLE = 4
GENERATOR_VERSION = 3
KIND_MIX = ["binary", "binary", "code", "code", "text"]

CID_YES, CID_NO = "353358909", "104430631"
FA_VALUES = ["[178420302]", "[958239616]"]
TABLE_ID = "FlatConnect.module1_v2_JP"

# One-off renames configured for TABLE_ID, in configuration order.
ONE_OFF = [(f"D_{a}_D_{b}", f"d_{a}_d_{t}")
           for a in ["150352141", "122887481", "534007917", "752636038",
                     "518750011", "275770221", "527057404"]
           for b, t in [("206625031", "623218391"), ("261863326", "802622485")]]
CUSTOM_SOURCE = "D_317093647"
CUSTOM_TARGETS = ["D_317093647_D_623218391", "D_317093647_D_802622485"]
SENSITIVE = ["d_849518448", "d_684926335", "d_253532712", "d_119643471",
             "d_706256705", "d_435027713", "d_827220437", "d_699625233",
             "d_919254129", "d_558435199", "d_878865966", "d_684635302",
             "d_167958071", "d_949302066", "d_536735468", "d_663265240",
             "d_976570371"]
SENSITIVE_OUT = ["CONNECT_ID"] + SENSITIVE
FA_CIDS = [
    "236590500", "537137982", "640010727", "869387390", "178774803", "354326265",
    "422714611", "628078826", "578895128", "273218182", "438682764", "550092533",
    "618427836", "596961796", "646042915", "753610471", "753416375", "825189914",
    "803968511", "799338907", "901498441", "893965588", "991622246", "276575533",
    "517100968", "585819411", "933417196", "123104885", "116032363", "173413183",
    "212343294", "205492848", "200086909", "201906316", "192184336", "194944818",
    "216096388", "264797252", "263588196", "268612977", "255474241", "293954660"]
IMPURE = ["token", "uid", "siteAcronym", "D_{}_NOTE", "D_{}_TEXT"]
MERGE_DROPPED = ["token", "D_{}_PROVIDED"]


class Table:
    """One generated table: ``Connect_ID`` first, then the added STRING columns."""

    def __init__(self, rng, rows, ids):
        self.rng, self.rows = rng, rows
        self.names, self.arrays = ["Connect_ID"], [pa.array(ids, pa.string())]

    def add(self, name, kind, null_frac=0.2):
        self.names.append(name)
        self.arrays.append(values(self.rng, kind, self.rows, null_frac))

    def write(self, path):
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_arrays(self.arrays, names=self.names)
        step = -(-self.rows // FILES_PER_TABLE)
        for i in range(FILES_PER_TABLE):
            part = table.slice(i * step, step)
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                           row_group_size=max(1, step))
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def values(rng, kind, rows, null_frac):
    """A STRING column of ``kind``; row 0 always carries a value that fixes
    the column's class (no column is all-null or accidentally binary)."""
    if kind == "binary":
        vocab, first = ["0", "1", ""], 1
    elif kind == "fa":
        vocab, first = ["[]", FA_VALUES[int(rng.integers(2))]], 1
    elif kind == "code":
        vocab = [str(v) for v in rng.integers(100_000_000, 999_999_999, 5)]
        first = 0
    elif kind == "age":
        vocab = [str(v) for v in range(0, 131, 3)] + ["n/a", "1999"]
        first = 1
    else:  # free text
        vocab = [f"text {v:x}" for v in rng.integers(0, 1 << 30, 12)]
        first = 0
    idx = rng.integers(0, len(vocab), rows)
    mask = rng.random(rows) < null_frac
    idx[0], mask[0] = first, False
    return pa.array(vocab, pa.string()).take(pa.array(idx, mask=mask))


def fresh_cids(rng, n, taken):
    out = []
    while len(out) < n:
        for v in rng.integers(100_000_000, 999_999_999, 2 * n):
            s = str(v)
            if s not in taken:
                taken.add(s)
                out.append(s)
                if len(out) == n:
                    break
    return out


def reserved_cids():
    """CIDs the configured names already use; generated names avoid them."""
    names = [CUSTOM_SOURCE, *CUSTOM_TARGETS, *SENSITIVE, *(n for p in ONE_OFF for n in p)]
    return {CID_YES, CID_NO, *FA_CIDS} | {t for n in names for t in n.split("_") if t.isdigit()}


def connect_ids(rng, n):
    return [f"{v:010d}" for v in rng.choice(9_000_000_000, n, replace=False)]


def kind_draw(rng):
    """Draws column classes in KIND_MIX's proportions: every five draws are
    a shuffle of it, so a table's class counts, and with them the work its
    recodes and profiles take, do not vary with the seed; which columns get
    which class does."""
    block = []

    def draw():
        if not block:
            block.extend(str(k) for k in rng.permutation(KIND_MIX))
        return block.pop()
    return draw


def wide_table(rng, cols, rows):
    """~``cols`` STRING columns in a shuffled survey order, plus the
    predicted clean_columns output (ordered) and each output's class."""
    kind_for = kind_draw(rng)
    taken = reserved_cids()
    n_fa = min(40, max(4, cols // 30))
    n_state = max(4, cols // 20)
    n_loop = max(4, cols // 15)            # CIDs with loop indices 1..3
    n_twin = n_loop // 2                   # loops with a coalescing twin name
    n_vers = n_loop // 2                   # CIDs with _V2 loop indices 1..2
    fixed = 1 + len(ONE_OFF) + 1 + len(SENSITIVE) + n_fa + n_state + 3 * n_loop \
        + n_twin + 2 * n_vers + len(IMPURE)
    n_plain = max(4, cols - fixed)
    cids = iter(fresh_cids(rng, n_state + n_loop + n_vers + n_plain + len(IMPURE), taken))

    # (source name, kind, group): group links source columns that clean_columns
    # merges into one output column
    body = [(s, kind_for(), ("oneoff", i)) for i, (s, _) in enumerate(ONE_OFF)]
    body.append((CUSTOM_SOURCE, "age", ("plain", CUSTOM_SOURCE)))
    body += [(f"D_{c[2:]}", kind_for(), ("plain", c)) for c in SENSITIVE]
    body += [(f"D_{c}_D_{c}", "fa", ("plain", c)) for c in rng.choice(FA_CIDS, n_fa, replace=False)]
    body += [(f"state_D_{next(cids)}", kind_for(), ("state",)) for _ in range(n_state)]
    loop_cids = [next(cids) for _ in range(n_loop)]
    for i, c in enumerate(loop_cids):
        for n in (1, 2, 3):
            k = kind_for()
            body.append((f"D_{c}_{n}_{n}", k, ("loop", c, n, "")))
            if i < n_twin and n == 1:
                body.append((f"D_{c}_{n}_{n}_{n}_{n}", k, ("loop", c, n, "")))
    for _ in range(n_vers):
        c = next(cids)
        body += [(f"D_{c}_V2_{n}_{n}", kind_for(), ("loop", c, n, "_v2")) for n in (1, 2)]
    body += [(f"D_{next(cids)}", kind_for(), ("plain",)) for _ in range(n_plain)]
    body += [(n.format(next(cids)), "text", ("drop",)) for n in IMPURE]
    order = rng.permutation(len(body))
    body = [body[i] for i in order]
    # twins coalesce first-listed-wins, so both members share one class
    loop_kind = {}
    for i, (name, kind, g) in enumerate(body):
        if g[0] == "loop":
            body[i] = (name, loop_kind.setdefault(g, kind), g)

    t = Table(rng, rows, connect_ids(rng, rows))
    for name, kind, _ in body:
        t.add(name, kind, null_frac=0.6 if kind != "fa" and name.count("_") > 2 else 0.2)

    # predicted clean_columns output, step by step
    out = [("Connect_ID", "other")]
    present = {g[1]: k for _, k, g in body if g[0] == "oneoff"}
    out += [(ONE_OFF[i][1], present[i]) for i in range(len(ONE_OFF)) if i in present]
    out += [(n.replace("state_", "").lower(), k) for n, k, g in body if g[0] == "state"]
    out += [(CUSTOM_TARGETS[0], "long"), (CUSTOM_TARGETS[1], "long")]
    seen = set()
    for _, k, g in body:
        if g[0] == "loop" and g not in seen:
            seen.add(g)
            out.append((f"d_{g[1]}_{g[2]}{g[3]}", k))
    out += [(n.lower(), k) for n, k, g in body if g[0] == "plain"]
    return t, [n for n, _ in out], {n: k for n, k in out}


def clean_rows_columns(kinds):
    """clean_rows output order: binary, false-array, the rest; each sorted."""
    by = lambda k: sorted(n for n, v in kinds.items() if v == k)
    rest = sorted(n for n, v in kinds.items() if v not in ("binary", "fa"))
    return by("binary") + by("fa") + rest


def tall_table(rng, cols, rows):
    kind_for = kind_draw(rng)
    taken = reserved_cids()
    n_fa = max(2, cols // 7)
    n_other = cols - 1 - n_fa
    t = Table(rng, rows, connect_ids(rng, rows))
    kinds = {"Connect_ID": "other"}
    names = [f"d_{c}_d_{c}" for c in rng.choice(FA_CIDS, n_fa, replace=False)]
    names += [f"d_{c}" for c in fresh_cids(rng, n_other, taken)]
    for i in rng.permutation(len(names)):
        k = "fa" if names[i].count("_d_") else kind_for()
        t.add(names[i], k)
        kinds[names[i]] = k
    return t, kinds


def merge_tables(rng, versions, shared, unique, rows):
    """``versions`` tables over one key universe: ``shared`` columns in
    every version (spelled ``d_`` or ``D_`` per version), ``unique`` columns
    per version, and names merge_table_versions must drop."""
    kind_for = kind_draw(rng)
    taken = reserved_cids()
    shared_cids = fresh_cids(rng, shared, taken)
    universe = rng.choice(9_000_000_000, int(rows * 1.4), replace=False)
    tables, keys, uniques = [], set(), []
    for v in range(versions):
        ids = rng.choice(universe, rows, replace=False)
        keys.update(int(i) for i in ids)
        t = Table(rng, rows, [f"{i:010d}" for i in ids])
        prefix = "D_" if v % 2 else "d_"
        own = [f"{prefix}{c}" for c in fresh_cids(rng, unique, taken)]
        drop = [n.format(fresh_cids(rng, 1, taken)[0]) for n in MERGE_DROPPED]
        names = [f"{prefix}{c}" for c in shared_cids] + own + drop
        for i in rng.permutation(len(names)):
            t.add(names[i], kind_for())
        tables.append(t)
        uniques.append(sorted(own))
    cols = ["Connect_ID"] + sorted(f"d_{c}" for c in shared_cids)
    for own in uniques:
        cols += [n.lower() for n in own]
    return tables, len(keys), cols


def generate(workload, seed, root, tiny=False):
    """Writes the workload's tables under ``root`` (once per seed and shape)
    and returns the spec dict."""
    spec_path = os.path.join(root, "spec.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            return json.load(f)
    shape = (TINY if tiny else SHAPES)[workload]
    rng = np.random.default_rng([GENERATOR_VERSION, seed, sorted(SHAPES).index(workload)])
    spec = {"workload": workload, "seed": seed, "shape": shape, "tables": {}}
    if workload == "wide_schema":
        t, cc_cols, kinds = wide_table(rng, shape["cols"], shape["rows"])
        size = t.write(os.path.join(root, "src"))
        spec["tables"]["src"] = {"rows": t.rows, "cols": len(t.names), "bytes": size}
        spec["clean_columns"] = cc_cols
        spec["clean_rows"] = clean_rows_columns(kinds)
        spec["binary"] = sorted(n for n, k in kinds.items() if k == "binary")
        spec["fa"] = sorted(n for n, k in kinds.items() if k == "fa")
        spec["sensitive_tier"] = SENSITIVE_OUT
        spec["table_id"] = TABLE_ID
    elif workload == "tall_profile":
        t, kinds = tall_table(rng, shape["cols"], shape["rows"])
        size = t.write(os.path.join(root, "src"))
        spec["tables"]["src"] = {"rows": t.rows, "cols": len(t.names), "bytes": size}
        spec["clean_rows"] = clean_rows_columns(kinds)
        spec["binary"] = sorted(n for n, k in kinds.items() if k == "binary")
        spec["fa"] = sorted(n for n, k in kinds.items() if k == "fa")
    else:
        tables, key_union, cols = merge_tables(rng, shape["versions"], shape["shared"],
                                               shape["unique"], shape["rows"])
        for i, t in enumerate(tables):
            size = t.write(os.path.join(root, f"v{i + 1}"))
            spec["tables"][f"v{i + 1}"] = {"rows": t.rows, "cols": len(t.names), "bytes": size}
        spec["merge_rows"] = key_union
        spec["merge"] = cols
    tmp = spec_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(spec, f)
    os.replace(tmp, spec_path)
    return spec
