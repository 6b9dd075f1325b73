package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.time.Duration
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.api.PipelineServer

/** The served-pipeline benchmark's JVM.
  *
  * Starts the engine the way a host does (`GraftSession.localBuilder` +
  * `PipelineServer`), then drives the HTTP endpoints in a closed loop:
  * each client sends a cycle's requests one after another and starts the
  * next cycle when the last reply arrives. Phases, in order:
  *  - `cold`: one cycle on client 0 right after set-up;
  *  - `warm`: untimed cycles on every client, at least one each, until
  *    `--warmup` seconds after the cold cycle began; the JIT and the heap's
  *    sizing take that long to settle on these plans;
  *  - `timed`: cycles started within the measured window.
  * With `--trace 1` the window alternates one `untraced` cycle over HTTP and
  * one `traced` cycle, which replays each request in-process through
  * [[Tracer]] with a span around each layer's call; alternating keeps both
  * at the same point of the JIT's warm-up.
  *
  * Every request writes its own destination, so the published tables can
  * be verified after the process exits. Results go to `--result` as JSON;
  * nothing is printed to stdout. Without `--workload` it only measures
  * set-up: process start to the first healthy `/heartbeat`.
  */
object ServedBench {

  final case class Step(endpoint: String, label: String, sources: Seq[String], dest: String,
      tableId: String = "", useReference: Boolean = true)
  final case class Req(id: String, step: Step, start: Double, end: Double, status: Int)
  final case class Cycle(client: Int, k: Int, phase: String, start: Double, end: Double,
      reqs: Seq[Req])

  private val mapper = new ObjectMapper()
  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // PipelineServer.stop() leaves its request pool's threads alive; exit
    // explicitly rather than wait on them
    System.exit(code)
  }

  /** The requests of cycle `k` on `client`. Every destination is new. */
  def cycle(workload: String, data: String, out: String, tableId: String,
      client: Int, k: Int): Seq[Step] = {
    val dir = s"$out/c$client/k$k"
    workload match {
      case "wide_schema" => Seq(
        Step("clean_columns", "clean_columns", Seq(s"$data/src"), s"$dir/1_clean_columns",
          tableId = tableId),
        Step("clean_rows", "clean_rows", Seq(s"$dir/1_clean_columns"), s"$dir/2_clean_rows"),
        Step("create_sensitive_tier", "sensitive_tier", Seq(s"$dir/2_clean_rows"),
          s"$dir/3_sensitive_tier"))
      case "tall_profile" => Seq(
        Step("clean_rows", "clean_rows_scan", Seq(s"$data/src"), s"$dir/1_clean_rows_scan",
          useReference = false),
        Step("clean_rows", "clean_rows", Seq(s"$data/src"), s"$dir/2_clean_rows"))
      case "merge_versions" =>
        val versions = new File(data).list().filter(_.matches("v\\d+")).sorted.toSeq
        Seq(Step("merge_table_versions", "merge", versions.map(v => s"$data/$v"), s"$dir/1_merge"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  val Clients: Map[String, Int] = Map("merge_versions" -> 2).withDefaultValue(1)

  private def run(opts: Map[String, String]): Unit = {
    val out = opts("out")
    val cores = opts("cores").toInt
    val result = mapper.createObjectNode()
    result.put("cores", cores)
    val (spark, server, port) = startServer(cores, out)
    result.put("setup_s", (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)

    for (workload <- opts.get("workload")) {
      val data = opts("data")
      val seconds = opts("seconds").toDouble
      val tableId = Option(mapper.readTree(new File(s"$data/spec.json")).get("table_id"))
        .map(_.asText).getOrElse("")
      val bench = new Loop(spark, port, Clients(workload),
        (c, k) => cycle(workload, data, s"$out/tables", tableId, c, k), s"$out/audit")
      val warmEnd = now + opts("warmup").toDouble
      bench.phase("cold", clients = 1, cycles = 1)
      bench.phase("warm", atLeast = 1, seconds = warmEnd - now)
      if (opts("trace") == "1") {
        val tracer = new Tracer(spark, cores)
        val deadline = now + seconds
        while (now < deadline) {
          bench.tracer = None
          bench.phase("untraced", cycles = 1)
          bench.tracer = Some(tracer)
          tracer.resume()
          bench.phase("traced", cycles = 1)
          tracer.pause()
        }
        val cycles = bench.cycles.toSeq
        result.set[ObjectNode]("trace", tracer.report(cycles.filter(_.phase == "traced"),
          cycles.filter(_.phase == "untraced"), s"$out/spans.json"))
      } else {
        bench.phase("timed", seconds = seconds)
        result.put("heap_retained_mb", retainedHeapMb())
      }
      result.set[ObjectNode]("cycles", cyclesJson(bench.cycles.toSeq))
    }
    Files.write(Paths.get(opts("result")), mapper.writeValueAsBytes(result))
    server.stop()
    spark.stop()
  }

  private def startServer(cores: Int, out: String): (SparkSession, PipelineServer, Int) = {
    val spark = GraftSession.localBuilder(cores.toString)
      .appName("perfbench")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val server = new PipelineServer(spark, port = 0, auditDir = s"$out/audit")
    val port = server.start()
    val reply = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/heartbeat")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    require(reply.statusCode() == 200 && reply.body().contains("healthy"),
      s"heartbeat answered ${reply.statusCode()}: ${reply.body()}")
    (spark, server, port)
  }

  /** Used heap after forced full collections: the lowest of three
    * readings, so objects Spark's cleaner thread is still releasing do not
    * count. */
  private def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min / 1048576.0

  /** Closed-loop clients over one server. */
  final class Loop(spark: SparkSession, port: Int, clientCount: Int,
      steps: (Int, Int) => Seq[Step], auditDir: String) {
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    var tracer: Option[Tracer] = None
    private val nextK = Array.fill(clientCount)(0)
    private val http = Array.fill(clientCount)(
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())

    /** Runs every client until it has done `cycles` cycles or, once it has
      * done `atLeast`, the phase's `seconds` have passed; a cycle counts for
      * the phase it started in. */
    def phase(name: String, clients: Int = clientCount, cycles: Int = Int.MaxValue,
        atLeast: Int = 0, seconds: Double = Double.MaxValue): Unit = {
      val deadline = now + seconds
      val pool = Executors.newFixedThreadPool(clients)
      try {
        val futures = (0 until clients).map { c =>
          pool.submit(new Callable[Seq[Cycle]] {
            def call(): Seq[Cycle] = {
              val done = mutable.ArrayBuffer.empty[Cycle]
              while (done.size < cycles && (done.size < atLeast || now < deadline))
                done += runCycle(c, name)
              done.toSeq
            }
          })
        }
        futures.foreach(f => this.cycles ++= f.get())
      } finally pool.shutdown()
    }

    private def runCycle(client: Int, phase: String): Cycle = {
      val k = nextK(client)
      nextK(client) += 1
      val start = now
      val reqs = steps(client, k).zipWithIndex.map { case (s, i) =>
        val id = s"c$client-k$k-$i"
        val r0 = now
        val status = tracer match {
          case Some(t) => t.replay(spark, s, id, auditDir)
          case None => post(client, s)
        }
        Req(id, s, r0, now, status)
      }
      Cycle(client, k, phase, start, now, reqs)
    }

    private def post(client: Int, s: Step): Int = {
      val body = mapper.createObjectNode()
      if (s.endpoint == "merge_table_versions") {
        val arr = body.putArray("source")
        s.sources.foreach(arr.add)
      } else body.put("source", s.sources.head)
      body.put("destination", s.dest)
      if (s.tableId.nonEmpty) body.put("table_id", s.tableId)
      if (s.endpoint == "clean_rows") body.put("use_reference", s.useReference)
      val request = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/${s.endpoint}"))
        .timeout(Duration.ofSeconds(150))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body)))
        .build()
      try http(client).send(request, HttpResponse.BodyHandlers.discarding()).statusCode()
      catch { case NonFatal(e) => System.err.println(s"request failed: $e"); -1 }
    }
  }

  private def cyclesJson(cycles: Seq[Cycle]): ArrayNode = {
    val arr = mapper.createArrayNode()
    for (c <- cycles.sortBy(_.start)) {
      val cn = arr.addObject()
      cn.put("client", c.client).put("k", c.k).put("phase", c.phase)
        .put("start", c.start).put("end", c.end)
      val rs = cn.putArray("requests")
      for (r <- c.reqs) {
        val rn = rs.addObject()
        rn.put("id", r.id).put("endpoint", r.step.endpoint).put("label", r.step.label)
          .put("dest", r.step.dest).put("status", r.status)
          .put("start", r.start).put("end", r.end)
        val src = rn.putArray("sources")
        r.step.sources.foreach(src.add)
      }
    }
    arr
  }
}
