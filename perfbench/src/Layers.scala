package org.apache.spark.perfbench

import scala.collection.mutable

import Runner.{Res, Window, js, median, num, obj}

/** Turns the recorder's events for each traced operation into spans
  * (operation → entry-construct / action → job → stage, with Catalyst
  * phases under the client span that ran them) and per-layer figures.
  *
  * Self time: every instant of an operation is charged to one layer —
  * `exec` while a job runs, else `catalyst` while a planning phase runs,
  * else `exec` inside the action call (code generation, job submission,
  * result fetch), else `entry` inside the program call. What is left is
  * the client's own bookkeeping between the two calls.
  */
final class Layers(cores: Int) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def span(parent: Long, name: String, op: Long, a: Double, b: Double): Long = {
    nextId += 1
    spans += Span(nextId, parent, name, op, a, b)
    nextId
  }

  /** metric -> one value per traced operation */
  private val per = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def put(k: String, v: Double): Unit =
    per.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Double]) += v
  private val skews = mutable.ArrayBuffer.empty[Double]
  /** (op span id, op, entry, catalyst, exec self ms, latency ms) */
  private val selfTimes = mutable.ArrayBuffer.empty[(Long, String, Double, Double, Double, Double)]
  private var busyMs, latencyMs, entryMs, catalystMs, execMs = 0.0

  private def within(t: Double, iv: (Double, Double)) = t >= iv._1 && t <= iv._2

  def add(r: Res, rec: Recorder): Unit = rec.synchronized {
    val opSpan = span(0, s"op:${r.op}", nextId + 1, r.start, r.end)
    val opId = opSpan
    val entrySpan = span(opSpan, "entry", opId, r.entry._1, r.entry._2)
    val actionSpan = span(opSpan, "action", opId, r.action._1, r.action._2)
    def parentOf(t: Double) =
      if (within(t, r.entry)) entrySpan else if (within(t, r.action)) actionSpan else opSpan

    val jobs = rec.jobs.toSeq
    val tasks = rec.tasks.toSeq
    val byStage = tasks.groupBy(_.stage)
    jobs.foreach { j =>
      val jobSpan = span(parentOf(j.start.toDouble), s"job:${j.id}", opId,
        j.start.toDouble, j.end.toDouble)
      j.stages.flatMap(rec.stages.get).foreach { s =>
        span(jobSpan, s"stage:${s.id}", opId, s.submit.toDouble, s.complete.toDouble)
      }
    }
    val phases = rec.phases.toSeq
    phases.foreach(p => span(parentOf(p.start.toDouble), s"catalyst:${p.name}", opId,
      p.start.toDouble, p.end.toDouble))

    // entry
    put("entry.construct_s", (r.entry._2 - r.entry._1) / 1e3)
    put("entry.construct_jobs", jobs.count(j => within(j.start.toDouble, r.entry)).toDouble)
    put("entry.fixture_s", r.fixture)
    // catalyst
    Seq("analysis", "optimization", "planning").foreach { ph =>
      put(s"catalyst.${ph}_s", phases.filter(_.name == ph).map(p => p.end - p.start).sum / 1e3)
    }
    // exec
    put("exec.action_s", (r.action._2 - r.action._1) / 1e3)
    put("exec.jobs", jobs.size.toDouble)
    put("exec.stages", rec.stages.size.toDouble)
    put("exec.tasks", tasks.size.toDouble)
    put("exec.sched_wait_s", tasks.map(_.waitMs).sum / 1e3)
    put("exec.task_busy_s", tasks.map(_.runMs).sum / 1e3)
    put("exec.shuffle_write_mb", tasks.map(_.shufWrite).sum / 1e6)
    put("exec.shuffle_read_mb", tasks.map(_.shufRead).sum / 1e6)
    put("exec.spill_mb", tasks.map(_.spill).sum / 1e6)
    put("exec.input_mb", tasks.map(_.input).sum / 1e6)
    put("exec.gc_s", tasks.map(_.gcMs).sum / 1e3)
    busyMs += tasks.map(_.runMs).sum
    latencyMs += r.end - r.start
    val longest = rec.stages.values.filter(s => byStage.contains(s.id))
      .maxByOption(s => s.complete - s.submit)
    longest.foreach { s =>
      val d = byStage(s.id).map(t => (t.finish - t.launch).toDouble)
      val m = median(d)
      if (m > 0) skews += d.max / m
    }
    // caches
    put("caches.stored_mb", r.storedMb)
    put("caches.rdds", r.rdds.toDouble)
    // geo: stages that scan the binary tiles (and so run tiff_decode)
    val decodeStages = rec.stages.values.filter(_.scopes.exists(_.toLowerCase.contains("binaryfile")))
      .map(_.id).toSet
    put("geo.decode_stage_s", tasks.filter(t => decodeStages(t.stage)).map(_.runMs).sum / 1e3)
    put("geo.expand_rows", if (r.files > 0) r.rows.toDouble else 0.0)
    // sources: stages whose tasks wrote files; commit = write job end to
    // the end of its SQL execution
    val writeStages = tasks.filter(_.outBytes > 0).map(_.stage).toSet
    put("sources.write_stage_s", tasks.filter(t => writeStages(t.stage)).map(_.runMs).sum / 1e3)
    val writeJobs = jobs.filter(_.stages.exists(writeStages))
    put("sources.commit_s", writeJobs.groupBy(_.exec).toSeq.map { case (ex, wj) =>
      rec.sqlEnd.get(ex).map(e => math.max(0L, e - wj.map(_.end).max)).getOrElse(0L)
    }.sum / 1e3)
    put("sources.files_written", r.files.toDouble)
    put("sources.bytes_written", r.bytes.toDouble)
    // self time per layer
    val lo = r.start
    val hi = r.end
    val jobIv = jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val phIv = phases.map(p => (p.start.toDouble, p.end.toDouble))
    val ex = Intervals.union(jobIv, lo, hi) + Intervals.minus(Seq(r.action), jobIv ++ phIv, lo, hi)
    val cat = Intervals.minus(phIv, jobIv, lo, hi)
    val ent = Intervals.minus(Seq(r.entry), jobIv ++ phIv, lo, hi)
    execMs += ex
    catalystMs += cat
    entryMs += ent
    selfTimes += ((opId, r.op, ent, cat, ex, r.end - r.start))
  }

  private def mean(k: String): Double = per.get(k).map(v => v.sum / v.size).getOrElse(0.0)

  def json(traced: Window, plain: Window, speedup: Double): String = {
    val kv = mutable.ArrayBuffer.empty[(String, String)]
    per.keys.foreach(k => kv += k -> num(mean(k)))
    kv += "exec.core_util" -> num(busyMs / (latencyMs * cores))
    kv += "exec.stage_skew" -> num(median(skews.toSeq))
    kv += "exec.parallel_speedup" -> num(speedup)
    kv += "entry.share" -> num(entryMs / latencyMs)
    kv += "catalyst.share" -> num(catalystMs / latencyMs)
    kv += "exec.share" -> num(execMs / latencyMs)
    val n = plain.results.size.toDouble
    kv += "jvm.gc_s" -> num(plain.gcS / n)
    kv += "jvm.jit_cpu_s" -> num(plain.passes.map(_.jit).sum / n)
    kv += "jvm.heap_after_gc_mb" -> num(if (plain.heapAfterGc.isEmpty) 0.0 else plain.heapAfterGc.max)
    kv += "trace.overhead_ratio" ->
      num((traced.results.size / traced.wall) / (plain.results.size / plain.wall))
    plain.results.groupBy(_.op).foreach { case (op, rs) =>
      kv += s"op.$op.p50_s" -> num(median(rs.map(_.latency)))
    }
    obj(kv.toSeq)
  }

  /** All spans plus each operation's self time per layer, as JSON. */
  def writeSpans(path: String): Unit = {
    val sp = spans.map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> js(s.name),
        "op" -> s.op.toString, "start" -> num(s.start), "end" -> num(s.end)))
    }
    val self = selfTimes.map { case (id, op, ent, cat, ex, lat) =>
      obj(Seq("op" -> id.toString, "name" -> js(op), "entry_ms" -> num(ent),
        "catalyst_ms" -> num(cat), "exec_ms" -> num(ex), "latency_ms" -> num(lat)))
    }
    val body = obj(Seq("spans" -> sp.mkString("[\n", ",\n", "\n]"),
      "self_time" -> self.mkString("[\n", ",\n", "\n]"))) + "\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}
