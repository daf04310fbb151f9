package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One workload of the benchmark. `build` writes the workload's fixtures
  * into a fresh directory; `warmup` runs the first ops untimed; `step` is
  * one timed op of the closed loop, a maintenance op as the last of every
  * `cycle` ops and a regular op otherwise; `capacity` is how many timed ops the
  * generated inputs hold; `finish` runs after the clock stops and dumps
  * what the checks compare into the output directory. */
trait Workload {
  def kind: String
  def cycle: Int
  def capacity: Int
  def build(dir: String): Unit
  def warmup(tr: Trace): Unit
  def step(maint: Boolean, tr: Trace, o: Op): Unit
  def finish(info: mutable.Map[String, Any]): Unit
}

/** JVM side of the benchmark: runs one workload in a closed loop with one
  * client thread against a local[4] session and writes `result.json`
  * (set-up times, every op's wall time and counters, spans) for
  * `run.py` to check and summarize.
  *
  * Usage: Main --workload W --seconds S --trace 0|1 --in DIR --work DIR --out DIR */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val (in, work, out) = (a("in"), a("work"), a("out"))
    Files.createDirectories(Paths.get(out))

    val t0 = System.nanoTime()
    val spark = GraftSession.builder("perfbench", "4")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = a("workload") match {
      case "ods_cdc" => new OdsCdc(spark, in, out)
      case "llm_curation" => new LlmCuration(spark, in, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val b0 = System.nanoTime()
    w.build(s"$work/fixture")
    val buildS = (System.nanoTime() - b0) / 1e9
    val tr = new Trace(spark, traced)
    val w0 = System.nanoTime()
    w.warmup(tr)
    val warmupS = (System.nanoTime() - w0) / 1e9

    // closed loop: the next op starts when the previous one returns. The
    // loop runs whole cycles, at least one, until `seconds` have passed,
    // so every run holds as many regular ops as maintenance ops however
    // fast the code is; it stops early only when the inputs run out.
    val loop0 = System.nanoTime()
    val limit = w.capacity / w.cycle * w.cycle
    var i = 0
    while (i < limit && (i == 0 || i % w.cycle != 0 || (System.nanoTime() - loop0) / 1e9 < seconds)) {
      val maint = i % w.cycle == w.cycle - 1
      tr.op(w.kind, maint)(o => w.step(maint, tr, o))
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9

    val f0 = System.nanoTime()
    val info = mutable.LinkedHashMap[String, Any]()
    w.finish(info)
    spark.stop()
    val finishS = (System.nanoTime() - f0) / 1e9

    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"),
      "traced" -> traced,
      "setup" -> Map("session_s" -> sessionS, "build_s" -> buildS,
        "warmup_s" -> warmupS, "setup_s" -> (sessionS + buildS + warmupS)),
      "loop_s" -> loopS,
      "finish_s" -> finishS,
      "info" -> info,
      "ops" -> tr.ops.map { o =>
        Map("kind" -> o.kind, "maint" -> o.maint, "ms" -> o.wallMs, "cpu_ms" -> o.cpuMs,
          "jit_cpu_ms" -> o.jitCpuMs, "jit_ms" -> o.jitMs, "ok" -> o.ok, "error" -> o.error,
          "counts" -> o.counts)
      })
    if (traced) {
      val self = tr.selfNs
      res("spans") = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "ms" -> (s.endNs - s.startNs) / 1e6, "self_ms" -> self(s.id) / 1e6))
    }
    Files.writeString(Paths.get(out, "result.json"), Json(res))
  }

  /** Recursive on-disk size of a directory, in bytes. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
