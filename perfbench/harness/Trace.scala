package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory spans for the harness layers (run, pass, entry and the
  * entry's build/plan/exec phases), written out once at the end of the
  * run. Times are epoch microseconds so they line up with the Spark
  * listener's job and stage times. A disabled recorder keeps nothing.
  */
final class Spans(val on: Boolean) {
  private val baseMicros = System.currentTimeMillis() * 1000L
  private val baseNanos = System.nanoTime()
  private val layer = ArrayBuffer[String]()
  private val name = ArrayBuffer[String]()
  private val parent = ArrayBuffer[Int]()
  private val start = ArrayBuffer[Long]()
  private val end = ArrayBuffer[Long]()

  private def micros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L

  def open(l: String, n: String, p: Option[Int]): Int =
    if (!on) -1
    else {
      layer += l; name += n; parent += p.getOrElse(-1); start += micros(); end += -1L
      layer.size - 1
    }

  def close(id: Int): Unit = if (id >= 0 && end(id) < 0) end(id) = micros()

  def json: Json =
    Json.Arr(layer.indices.map { i =>
      Json.Obj(
        "id" -> Json.Num(i), "layer" -> Json.Str(layer(i)), "name" -> Json.Str(name(i)),
        "parent" -> Json.Num(parent(i)), "start_us" -> Json.Num(start(i).toDouble),
        "end_us" -> Json.Num(end(i).toDouble))
    })
}

/** Job and stage records tagged with the job group the harness sets per
  * entry (`<pass>|<entry>`): times, task counts, task-time spread, CPU,
  * shuffle, spill and input bytes.
  */
final class StageListener extends SparkListener {
  import StageListener._

  private val jobs = ArrayBuffer[Job]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += new Job(e.jobId, group, e.time, e.stageIds)
    e.stageIds.foreach(id => stageGroup(id) = group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stage(info.stageId, info.attemptNumber())
    s.group = stageGroup.getOrElse(info.stageId, "")
    s.start = info.submissionTime.getOrElse(0L)
    s.end = info.completionTime.getOrElse(s.start)
    s.tasks = info.numTasks
  }

  def stagesJson: Json = synchronized {
    def ms(t: Long) = Json.Num(t * 1000.0)
    Json.Obj(
      "jobs" -> Json.Arr(jobs.toSeq.map(j => Json.Obj(
        "id" -> Json.Num(j.id), "group" -> Json.Str(j.group),
        "start_us" -> ms(j.start), "end_us" -> ms(j.end),
        "stage_ids" -> Json.Arr(j.stageIds.map(id => Json.Num(id)))))),
      "stages" -> Json.Arr(stages.values.toSeq.map { s =>
        val sorted = s.taskMs.sorted
        val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
        Json.Obj(
          "id" -> Json.Num(s.id), "attempt" -> Json.Num(s.attempt), "group" -> Json.Str(s.group),
          "start_us" -> ms(s.start), "end_us" -> ms(s.end), "tasks" -> Json.Num(s.tasks),
          "task_max_ms" -> Json.Num(sorted.lastOption.getOrElse(0L).toDouble),
          "task_median_ms" -> Json.Num(median.toDouble),
          "run_ms" -> Json.Num(s.runMs.toDouble), "cpu_ms" -> Json.Num(s.cpuNs / 1e6),
          "shuffle_write_b" -> Json.Num(s.shuffleWrite.toDouble),
          "shuffle_read_b" -> Json.Num(s.shuffleRead.toDouble),
          "spill_b" -> Json.Num(s.spill.toDouble), "input_b" -> Json.Num(s.input.toDouble))
      }))
  }
}

object StageListener {
  private final class Stage(val id: Int, val attempt: Int) {
    var group = ""
    var start, end = 0L
    var tasks = 0
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, input = 0L
    val taskMs = ArrayBuffer[Long]()
  }

  private final class Job(val id: Int, val group: String, val start: Long, val stageIds: Seq[Int]) {
    var end: Long = start
  }
}
