"""Checks one published table against the generator's spec.

A request passes when its destination has the source's row count (the key
union for merge), exactly the column list the naming rules predict, binary
recodes only in {Yes CID, No CID, NULL}, and unwrapped false arrays only
9-digit strings or NULL.
"""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import CID_NO, CID_YES

RECODES = pa.array([CID_YES, CID_NO])


def parquet_bytes(path):
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))


def expected(spec, label):
    """(rows, ordered columns, check recodes?) for a request's output."""
    if label == "merge":
        return spec["merge_rows"], spec["merge"], False
    rows = spec["tables"]["src"]["rows"]
    if label == "clean_columns":
        return rows, spec["clean_columns"], False
    if label == "sensitive_tier":
        return rows, spec["sensitive_tier"], False
    return rows, spec["clean_rows"], True   # clean_rows, clean_rows_scan


def check(spec, label, dest):
    """None when the table at ``dest`` is right, else what is wrong."""
    try:
        table = pq.read_table(dest)
    except (OSError, pa.ArrowException) as e:
        return f"unreadable: {e}"
    rows, cols, recodes = expected(spec, label)
    if table.num_rows != rows:
        return f"{table.num_rows} rows, expected {rows}"
    if table.column_names != cols:
        missing = [c for c in cols if c not in table.column_names][:3]
        extra = [c for c in table.column_names if c not in cols][:3]
        return f"column list differs (missing {missing}, extra {extra}, or order)"
    if recodes:
        for c in spec["binary"]:
            v = table.column(c).drop_null()
            if len(v) and not pc.all(pc.is_in(v, value_set=RECODES)).as_py():
                return f"binary column {c} holds a value outside the recodes"
        for c in spec["fa"]:
            v = table.column(c).drop_null()
            if len(v) and not pc.all(pc.match_substring_regex(v, r"^\d{9}$")).as_py():
                return f"false-array column {c} holds a value that is not 9 digits"
    return None
