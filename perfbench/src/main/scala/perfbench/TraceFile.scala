package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

/** Writes a traced run's spans and per-operation counters as JSON. */
object TraceFile {

  def write(dir: String, opts: Opts, w: Workload, t: Tracer, spans: Seq[Span]): Unit = {
    val self = t.selfMs(spans)
    val sb = new StringBuilder
    sb ++= s"""{"workload": "${opts.workload}", "seed": ${opts.seed}, "spans": [\n"""
    sb ++= spans.map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""start_us": ${s.startUs}, "end_us": ${s.endUs}, "self_ms": ${self(s.id)}}""")
      .mkString(",\n")
    sb ++= "\n], \"ops\": [\n"
    sb ++= w.rec.ops.map { o =>
      val c = t.perOp.get(o.index)
      s"""{"index": ${o.index}, "kind": "${o.kind}", "traced": ${o.traced}, """ +
        s""""ms": ${o.ms}, "ok": ${o.ok}""" + c.fold("") { c =>
          s""", "jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, """ +
            s""""files_read": ${c.filesRead}, "queries": ${c.queries}"""
        } + "}"
    }.mkString(",\n")
    sb ++= "\n]}\n"
    val path = Paths.get(dir, s"${opts.workload}-seed${opts.seed}-${ProcessHandle.current.pid}.json")
    JFiles.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
