package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's measuring JVM. `perfbench/run.py` builds it and runs it once or
  * twice per benchmark run; this side measures and writes one JSON record per line
  * to `--records`, and run.py turns the records into the verdict and the
  * metrics.
  *
  * A run: set up `SetupReps` times (session start, input staging, untimed
  * warm-up), keeping the last session; run the workload's operations in a
  * closed loop (one client, one operation at a time) until `--seconds`
  * have passed; measure the live driver heap; tear down.
  *
  * `--phase stage` does only the set-ups' staging, `--phase measure` only
  * one set-up's session start and warm-up over inputs an earlier `stage`
  * JVM left in `--run-dir`, then measures. run.py splits query_suite this
  * way so that its pass runs in a fresh JVM, cold, as graft.Bench's does.
  */
object Main {
  val SetupReps = 2
  val Cores = 4
  /** Seeds map onto this many input families; expected.json holds the
    * seed commit's outputs for each. */
  val Families = 20

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        phase: String, runDir: Path, records: Path, spans: Path, toy: Boolean,
                        plant: String, record: Option[Range])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("phase", "all"),
      Paths.get(req("run-dir")).toAbsolutePath, Paths.get(req("records")),
      Paths.get(m.getOrElse("spans", "spans.jsonl")), m.getOrElse("profile", "full") == "toy",
      m.getOrElse("plant", "none"),
      m.get("record").map { r => val Array(lo, hi) = r.split(":").map(_.toInt); lo until hi })
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = parse(argv)
    val ctx = new Ctx(args)
    val code =
      try {
        val w = Workload(args.workload, ctx)
        args.record match {
          case Some(fams) => w.record(fams); 0
          case None => run(w, ctx); 0
        }
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          3
      } finally {
        ctx.close()
      }
    sys.exit(code)
  }

  private def run(w: Workload, ctx: Ctx): Unit = {
    val args = ctx.args
    val fam = Math.floorMod(args.seed, Families.toLong).toInt
    ctx.emit("meta", "family" -> fam, "cores" -> Cores, "toy" -> args.toy)
    val staging = args.phase != "measure"
    val measuring = args.phase != "stage"
    for (rep <- 1 to (if (staging) SetupReps else 1)) {
      val t0 = System.nanoTime()
      ctx.stopSession()
      val spark = ctx.session(Cores, w.conf)
      val t1 = System.nanoTime()
      if (staging) w.stage(spark, fam)
      val t2 = System.nanoTime()
      if (measuring) w.warmUp(spark)
      val t3 = System.nanoTime()
      ctx.emit("setup", "rep" -> rep, "s" -> (t3 - t0) / 1e9, "session_s" -> (t1 - t0) / 1e9,
        "stage_s" -> (t2 - t1) / 1e9, "warm_up_s" -> (t3 - t2) / 1e9)
    }
    if (measuring) measure(w, ctx)
  }

  private def measure(w: Workload, ctx: Ctx): Unit = {
    val args = ctx.args
    val tracer = if (args.trace) Some(new Tracer(s"${args.workload}-seed${args.seed}")) else None
    val spark = ctx.spark
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    tracer match {
      case Some(t) =>
        val listener = new EngineListener(t)
        spark.sparkContext.addSparkListener(listener)
        t.attach(spark.sparkContext)
        t.span(s"workload ${args.workload}")(w.measure(spark, deadline, Some((t, listener))))
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        t.write(args.spans)
      case None => w.measure(spark, deadline, None)
    }
    val heap = w.liveHeapMb()
    ctx.emit("heap", "mb" -> heap.min, "readings" -> heap)
    w.afterHeap()
  }
}

/** Filesystem helpers. */
object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val ls = Files.list(p)
        try ls.forEach(deleteTree(_)) finally ls.close()
      }
      Files.delete(p)
    }

  /** (bytes, regular files) under `p`. */
  def usage(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var bytes = 0L; var files = 0L
      s.forEach { f => if (Files.isRegularFile(f)) { bytes += Files.size(f); files += 1 } }
      (bytes, files)
    } finally s.close()
  }
}

/** JSON encoding of the records and the span file. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Per-run state: the run's scratch directory (made and deleted by
  * run.py), the live session and the record file. */
final class Ctx(val args: Main.Args) {
  val runDir: Path = args.runDir
  private val out = Files.newBufferedWriter(args.records)
  private var live: SparkSession = null

  def spark: SparkSession = live

  def emit(kind: String, fields: (String, Any)*): Unit = {
    out.write(Json(Map("type" -> kind) ++ fields.toMap))
    out.newLine()
    out.flush()
  }

  /** A fresh, empty directory inside the run directory. */
  def freshDir(prefix: String): Path = Files.createTempDirectory(runDir, prefix)

  def session(cores: Int, conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    live = conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    live.sparkContext.setLogLevel("WARN")
    live
  }

  def stopSession(): Unit = if (live != null) { live.stop(); live = null }

  def close(): Unit = {
    try stopSession() finally out.close()
  }
}
