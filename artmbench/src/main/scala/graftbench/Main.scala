package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a closed loop: a single client
  * issues the workload's main op and then its side op, each only after
  * the previous op returned, until `--seconds` have passed and at least
  * one turn is done.
  *
  * Set-up (timed as `setup_s`, from the launcher's start) covers the JVM,
  * the Spark session, input generation and untimed warm-up ops of the
  * full shape. Between timed ops, outside the timed region, every cached
  * table is released and a GC runs. Every op's output fingerprint must equal the first
  * warm-up's, whose output also passes the workload's invariant checks.
  *
  * With `--trace 1` each loop turn runs the two ops untraced, then the
  * traced rebuild of both; the per-layer metrics are medians over turns.
  *
  * Writes one JSON object to `--out`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      size: String, cores: Int, t0Ms: Long, out: String, localDir: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("size", "full"), m.getOrElse("cores", "4").toInt,
      m.getOrElse("t0-ms", System.currentTimeMillis().toString).toLong, m("out"),
      m("local-dir"))
  }

  /** Workload shapes: `full` is the measured size, `tiny` the
    * self-check size. */
  def workload(spark: SparkSession, a: Args): Workload = {
    val parts = 2 * a.cores
    val full = a.size != "tiny"
    a.workload match {
      case "artm_wide" =>
        new ArtmWorkload(spark,
          Gen.ArtmShape(if (full) 800 else 200, if (full) 6000 else 3000, 60, 160),
          heldDocs = if (full) 4000 else 100, topics = if (full) 50 else 10,
          passes = 2, docPasses = 10, a.seed, parts)
      case "curate" =>
        new CurateWorkload(spark,
          if (full) Gen.CurateShape(200, 400) else Gen.CurateShape(60, 120), a.seed, parts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("artmbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.localDir)
      .config("spark.sql.warehouse.dir", s"${a.localDir}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    HeapWatch.install()

    val errors = ArrayBuffer.empty[String]
    val notes = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    val started = System.nanoTime()
    def progress(msg: String): Unit =
      Console.err.println(f"[artmbench ${(System.nanoTime() - started) / 1e9}%8.2f s] $msg")
    def release(): Unit = { spark.catalog.clearCache(); System.gc() }
    def timed(op: Op): (OpOut, Double) = {
      op.prepare()
      HeapWatch.active = true
      val t0 = System.nanoTime()
      try {
        val o = op.run()
        (o, (System.nanoTime() - t0) / 1e9)
      } finally HeapWatch.active = false
    }

    progress("session up")
    val w = workload(spark, a)
    w.setup()
    progress("inputs generated")

    // warm-up: one full-shape turn, untimed; its outputs are the
    // references every later op must reproduce
    val (warmMain, warmMainS) = timed(w.main); release()
    val (warmSide, warmSideS) = timed(w.side); release()
    notes += f"warm-up wall s: ${w.main.name} $warmMainS%.3f, ${w.side.name} $warmSideS%.3f"
    progress(notes.last)
    val refs = Map(w.main.name -> warmMain.fingerprint, w.side.name -> warmSide.fingerprint)
    errors ++= w.verify(warmMain, warmSide).map(e => s"warm-up: $e")
    notes += s"${w.main.name}: ${warmMain.note}"
    if (warmSide.note.nonEmpty) notes += s"${w.side.name}: ${warmSide.note}"

    def check(name: String, o: OpOut): Boolean = {
      val ok = o.fingerprint == refs(name)
      if (!ok) errors += s"$name output ${o.fingerprint} differs from warm-up ${refs(name)}"
      ok
    }
    def attempt(name: String)(body: => Boolean): Unit = {
      attempted += 1
      val ok = try body catch {
        case e: Exception =>
          errors += s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
      if (!ok) failed += 1
    }

    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    val codegenSetup = Codegen.compileMs
    val rates = Map(w.main.name -> ArrayBuffer.empty[Double], w.side.name -> ArrayBuffer.empty[Double])
    val walls = Map(w.main.name -> ArrayBuffer.empty[Double], w.side.name -> ArrayBuffer.empty[Double])
    val layerSamples = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit = layerSamples.getOrElseUpdate(k, ArrayBuffer.empty) += v
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var turns = 0
    while (turns == 0 || System.nanoTime() < deadline) {
      var untracedS = 0.0
      // the side op is short, so an untraced turn samples it five times;
      // the median drops the first one after the main op, which runs slow
      val ops = if (a.trace) Seq(w.main, w.side) else w.main +: Seq.fill(5)(w.side)
      ops.foreach { op =>
        attempt(op.name) {
          val (o, wall) = timed(op)
          untracedS += wall
          walls(op.name) += wall
          progress(f"${op.name} $wall%.3f s")
          val ok = check(op.name, o)
          if (ok) rates(op.name) += o.items / wall
          ok
        }
        release()
      }
      if (a.trace) {
        listener.reset()
        val tr = new Tracer(spark, listener, a.cores)
        val t0 = System.nanoTime()
        var outs: (OpOut, OpOut) = null
        attempted += 2
        try outs = w.traced(tr)
        catch {
          case e: Exception =>
            errors += s"traced rebuild failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        val tracedS = (System.nanoTime() - t0) / 1e9
        progress(f"traced rebuild $tracedS%.3f s")
        if (outs == null) failed += 2
        else {
          if (!check(w.main.name, outs._1)) failed += 1
          if (!check(w.side.name, outs._2)) failed += 1
          tr.metrics().foreach { case (k, v) => sample(k, v) }
          sample("trace.overhead_s", tracedS - untracedS)
          sample("trace.coverage", tr.layerWallMs / 1000.0 / tracedS)
        }
        release()
      }
      turns += 1
    }

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    if (a.trace) {
      metrics += (("live_heap_peak_mb", HeapWatch.peakMb, "MB"))
      Layers.all.foreach(l => Layers.perLayer.foreach { case (s, u) =>
        metrics += ((s"$l.$s", median(layerSamples.getOrElse(s"$l.$s", ArrayBuffer(0.0)).toSeq), u))
      })
      Layers.counters.foreach { case (n, u) =>
        metrics += ((n, median(layerSamples.getOrElse(n, ArrayBuffer(0.0)).toSeq), u))
      }
      val compileTimed = Codegen.compileMs - codegenSetup
      metrics += (("spark.codegen.compile_ms.setup", codegenSetup, "ms"))
      metrics += (("spark.codegen.compile_ms.timed", compileTimed, "ms"))
      metrics += (("trace.overhead_s", median(layerSamples.getOrElse("trace.overhead_s", ArrayBuffer(Double.NaN)).toSeq), "s"))
      metrics += (("trace.coverage", median(layerSamples.getOrElse("trace.coverage", ArrayBuffer(Double.NaN)).toSeq), "share"))
    } else {
      metrics += (("setup_s", setupS, "s"))
      metrics += (("main_items_per_s", median(rates(w.main.name).toSeq), "items/s"))
      metrics += (("side_docs_per_s", median(rates(w.side.name).toSeq), "docs/s"))
    }
    notes += s"turns $turns; setup ${setupS} s"
    walls.foreach { case (op, ws) => notes += f"$op wall s: ${ws.map(x => f"$x%.3f").mkString(" ")}" }

    val json = new StringBuilder
    json ++= "{\"correct\":" ++= (errors.isEmpty && failed == 0).toString
    json ++= ",\"attempted\":" ++= attempted.toString
    json ++= ",\"failed\":" ++= failed.toString
    json ++= ",\"metrics\":{"
    json ++= metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    json ++= "},\"fingerprints\":{"
    json ++= refs.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
    json ++= "},\"errors\":[" ++= errors.take(20).map(Json.str).mkString(",")
    json ++= "],\"notes\":[" ++= notes.map(Json.str).mkString(",") ++= "]}"
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      json.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
