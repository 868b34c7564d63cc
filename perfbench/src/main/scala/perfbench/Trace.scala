package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.models.{Embedder, Generator, IconModels, SubScorer}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds; `parent` 0 is the
  * root. `attrs` carries counts recorded at the same boundary. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double,
                      run: String, attrs: Map[String, Double] = Map.empty)

/** Spans of one run, kept in memory and written once at the end. The
  * benchmark opens spans around its own calls into the program; the Spark
  * listener adds job and stage spans under whichever benchmark span was
  * open when the job started (carried by a Spark local property). */
final class Tracer(val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private var stack: List[Long] = Nil
  private var sc: SparkContext = null

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized(spans.toList)

  /** Route Spark jobs started on this thread to the open span. */
  def attach(context: SparkContext): Unit = { sc = context; setProp() }
  private def setProp(): Unit =
    if (sc != null) sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)

  def span[A](name: String)(f: => A): A = spanWith[A](name)(f)._1

  /** Runs `f` inside a span; the span's attributes come from `attrs`,
    * evaluated after `f` returns. */
  def spanWith[A](name: String, attrs: A => Map[String, Double] = (_: A) => Map.empty[String, Double])
                 (f: => A): (A, Long) = {
    val id = nextId()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    setProp()
    val t0 = nowMs
    var out: Option[A] = None
    try { out = Some(f); (out.get, id) }
    finally {
      stack = stack.tail
      setProp()
      add(Span(id, parent, name, t0, nowMs, run, out.map(attrs).getOrElse(Map("failed" -> 1.0))))
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(s => (s.startMs, s.id)).map { s =>
      Json(scala.collection.immutable.ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "run" -> s.run,
        "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Engine counters of one interval, summed over the stages that completed
  * in it. `skewMax` is the worst stage's max/median task run time. */
final case class EngineTotals(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                              shuffleRead: Long, shuffleWrite: Long, spill: Long,
                              input: Long, skewMax: Double)

/** Position in an EngineListener's history. */
final case class Mark(stages: Int, jobs: Long)

/** Spark listener the benchmark registers on traced runs. Counts jobs,
  * stages and tasks, sums task metrics per stage, and emits job and stage
  * spans into the tracer. */
final class EngineListener(tracer: Tracer) extends SparkListener {
  private final case class StageRec(tasks: Long, taskMs: Long, shuffleRead: Long,
                                    shuffleWrite: Long, spill: Long, input: Long, skew: Double)
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private var jobs = 0L
  private val taskTimes = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long, Double)] // job -> (span, parent, start)
  private val stageParent = mutable.HashMap.empty[Int, Long]

  def mark(): Mark = synchronized(Mark(stages.size, jobs))

  def since(m: Mark): EngineTotals = synchronized {
    val s = stages.drop(m.stages)
    EngineTotals(jobs - m.jobs, s.size, s.map(_.tasks).sum, s.map(_.taskMs).sum,
      s.map(_.shuffleRead).sum, s.map(_.shuffleWrite).sum, s.map(_.spill).sum,
      s.map(_.input).sum, if (s.isEmpty) 0.0 else s.map(_.skew).max)
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val id = tracer.nextId()
    jobSpan(e.jobId) = (id, spanOf(e.properties), e.time.toDouble)
    e.stageIds.foreach(s => if (!stageParent.contains(s)) stageParent(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for ((id, parent, start) <- jobSpan.remove(e.jobId))
      tracer.add(Span(id, parent, s"job ${e.jobId}", start, e.time.toDouble, tracer.run))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val times = taskTimes.remove((info.stageId, info.attemptNumber())).map(_.sorted).getOrElse(Nil)
    val skew =
      if (times.size < 2) 1.0
      else {
        val med = times(times.size / 2)
        if (med <= 0) 1.0 else times.last.toDouble / med
      }
    val m = info.taskMetrics
    stages += (if (m == null) StageRec(info.numTasks, 0, 0, 0, 0, 0, skew)
      else StageRec(info.numTasks, m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.inputMetrics.bytesRead, skew))
    for (start <- info.submissionTime; end <- info.completionTime)
      tracer.add(Span(tracer.nextId(), stageParent.remove(info.stageId).getOrElse(0L),
        s"stage ${info.stageId}", start.toDouble, end.toDouble, tracer.run,
        Map("tasks" -> info.numTasks.toDouble, "task_ms" -> stages.last.taskMs.toDouble)))
  }
}

/** Process-wide model call counters. Under local[N] every task runs in
  * this JVM, so executor-side calls land here too. Times are summed call
  * time across task threads. */
object ModelCounters {
  val embCalls, embLabels, embNs = new AtomicLong
  val subCalls, subPairs, subNs = new AtomicLong
  val genCalls, genNs = new AtomicLong
  private def all = Seq(embCalls, embLabels, embNs, subCalls, subPairs, subNs, genCalls, genNs)
  def reset(): Unit = all.foreach(_.set(0))
  def snapshot(): Seq[Long] = all.map(_.get)
}

/** Counting wrappers that delegate to the program's models; used on traced
  * operations only. */
final class CountingEmbedder(inner: Embedder) extends Embedder {
  def dim: Int = inner.dim
  def embed(labels: Seq[String]): Array[Array[Float]] = {
    val t0 = System.nanoTime()
    try inner.embed(labels)
    finally {
      ModelCounters.embNs.addAndGet(System.nanoTime() - t0)
      ModelCounters.embCalls.incrementAndGet()
      ModelCounters.embLabels.addAndGet(labels.size)
    }
  }
}

final class CountingScorer(inner: SubScorer) extends SubScorer {
  def score(pairs: Seq[(String, String)]): Array[Double] = {
    val t0 = System.nanoTime()
    try inner.score(pairs)
    finally {
      ModelCounters.subNs.addAndGet(System.nanoTime() - t0)
      ModelCounters.subCalls.incrementAndGet()
      ModelCounters.subPairs.addAndGet(pairs.size)
    }
  }
}

final class CountingGenerator(inner: Generator) extends Generator {
  def generate(labels: Seq[String]): String = {
    val t0 = System.nanoTime()
    try inner.generate(labels)
    finally {
      ModelCounters.genNs.addAndGet(System.nanoTime() - t0)
      ModelCounters.genCalls.incrementAndGet()
    }
  }
}

object CountingModels {
  def apply(m: IconModels): IconModels =
    IconModels(new CountingEmbedder(m.emb), new CountingGenerator(m.gen), new CountingScorer(m.sub))
}
