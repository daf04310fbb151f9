package perfbench

import graft.llm.MinhashIndexStore
import graft.streaming.StreamOps
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

/** Streaming admission: set-up pre-admits the corpus into a persistent
  * MinHash index; each op drops the next generated inbox file and runs
  * one AvailableNow `dedupIndexDrain` call with retention on, the
  * production door at a scheduled cadence. The drain runs its retention
  * pass every other tick: those ticks are the maintenance ops. */
final class LlmCuration(spark: SparkSession, in: String, out: String) extends Workload {
  val kind = "tick"
  val cycle = 2
  /** One regular and one maintenance tick; timed ticks then alternate,
    * regular first, as the drain's own retention cadence (every
    * `cycle`-th tick) has it. */
  private val Warmup = 2
  /** Retention horizon (ticks) longer than any run, so no admission ever
    * expires and the exact replay needs no eviction model; the retention
    * pass itself (expire scan + tombstone GC) still does its full work. */
  private val RetainTicks = 100000L
  private val ticks: IndexedSeq[(String, Long)] =
    scala.io.Source.fromFile(s"$in/ticks.tsv").getLines().map { l =>
      val Array(f, n) = l.split("\t"); (f, n.toLong)
    }.toIndexedSeq
  private val schema = spark.read.parquet(s"$in/corpus.parquet").schema
  private var root: String = _
  private var store: MinhashIndexStore = _
  private var consumed = 0

  def build(dir: String): Unit = {
    root = dir
    store = new MinhashIndexStore(spark, s"$dir/index", "doc_id", "text")
    store.append(spark.read.parquet(s"$in/corpus.parquet"))
    Files.createDirectories(Paths.get(s"$dir/inbox"))
  }

  def capacity: Int = ticks.size - Warmup

  def warmup(tr: Trace): Unit = (0 until Warmup).foreach(k => tick(tr, None, k % cycle == cycle - 1))

  def step(maint: Boolean, tr: Trace, o: Op): Unit = tick(tr, Some(o), maint)

  private def tick(tr: Trace, o: Option[Op], maint: Boolean): Unit = {
    val (file, n) = ticks(consumed)
    // land the file atomically: the file source must never list a
    // half-written parquet
    val staged = Paths.get(s"$root/.landing_$file")
    Files.copy(Paths.get(s"$in/ticks/$file"), staged)
    Files.move(staged, Paths.get(s"$root/inbox/$file"), StandardCopyOption.ATOMIC_MOVE)
    consumed += 1
    val stream = spark.readStream.schema(schema).parquet(s"$root/inbox")
    var retained = false
    tr.span("streaming.drain") {
      StreamOps.dedupIndexDrain(stream, store, 0.8, s"$root/admitted", s"$root/checkpoint",
        retention = Some((RetainTicks, cycle)),
        onStage = (stage, sec) =>
          if (stage.startsWith("batch")) tr.count("streaming.foreach_batch_ms", sec * 1000)
          else if (stage.startsWith("retention")) {
            retained = true
            if (stage.endsWith("_deferred")) tr.count("llm.retention_deferred", 1)
            else {
              tr.count("llm.retention_ms", sec * 1000)
              tr.count("llm.retention_runs", 1)
            }
          })
    }
    require(retained == maint, s"tick $consumed: retention ran = $retained, expected $maint")
    o.foreach(_.add("rows", n.toDouble))
    if (tr.tracing) {
      val (sigs, texts) = store.segmentCounts
      tr.count("llm.index_segments", (sigs + texts).toDouble)
    }
  }

  def finish(info: mutable.Map[String, Any]): Unit = {
    info("ticks_consumed") = consumed
    info("stored_bytes") = Main.dirBytes(s"$root/index")
    info("live_rows") = store.indexedDocs.get.count()
    spark.read.parquet(s"$root/admitted").select("doc_id").write.parquet(s"$out/admitted")
  }
}
