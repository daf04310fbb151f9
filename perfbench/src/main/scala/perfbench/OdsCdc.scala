package perfbench

import graft.meta.MetaStore
import graft.models.{ModelTests, SqlModelRunner}
import graft.marts.Marts
import graft.ops.Normalize
import graft.pipeline.{Layout, ManifestStore, MorStore}
import graft.plans.RollupRewrite
import graft.plans.RollupRewrite.SumMeasure
import graft.schema.{MergeGuard, TableConfig}
import graft.sources.{Staging, WatermarkStore, Windowed}
import graft.validate.Checks
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import scala.collection.mutable

final case class Window(start: String, end: String, orders: Long, lines: Long,
                        newKeyLo: Long, newKeyHi: Long)

/** The ODS tables of the reference: orders copy-on-write in a
  * month-partitioned ManifestStore under the M1 late-update guard,
  * lineitem merge-on-read in a MorStore (which reconciles by cursor, the
  * same order), both keyed CDC targets with an `updated_at` cursor. */
final class Ods(spark: SparkSession, in: String) {
  val odsOrders: DataFrame = spark.read.parquet(s"$in/ods_orders.parquet")
  val odsLineitem: DataFrame = spark.read.parquet(s"$in/ods_lineitem.parquet")
  val feedOrders: DataFrame = spark.read.parquet(s"$in/feed_orders.parquet")
  val feedLineitem: DataFrame = spark.read.parquet(s"$in/feed_lineitem.parquet")

  val ordersCfg = TableConfig("ods.orders", odsOrders.schema, Seq("o_orderkey"),
    cursorField = Some("updated_at"), guard = MergeGuard.TargetOlder("updated_at"),
    partitionCol = Some("o_month"))
  val lineitemCfg = TableConfig("ods.lineitem", feedLineitem.schema,
    Seq("l_orderkey", "l_linenumber"), cursorField = Some("updated_at"),
    partitionCol = Some("l_month"))

  private def tsv(name: String): Iterator[Array[String]] =
    scala.io.Source.fromFile(s"$in/$name").getLines().map(_.split("\t"))

  /** The generated windows: cursor bounds, row counts of both feeds, and
    * the key range of the orders the window inserts. */
  val windows: IndexedSeq[Window] = tsv("windows.tsv").map { case Array(s, e, o, li, k0, k1) =>
    Window(s, e, o.toLong, li.toLong, k0.toLong, k1.toLong)
  }.toIndexedSeq
  /** The past day a backdate re-merge re-pulls: bounds and row counts. */
  val backdate: Window = tsv("backdate.tsv").map { case Array(s, e, o, li) =>
    Window(s, e, o.toLong, li.toLong, 0L, 0L)
  }.next()

  def orders(root: String) = new ManifestStore(spark, s"$root/orders", "o_month",
    clusterCols = Seq("o_orderkey"), statsCols = Seq("o_orderkey"), clusterFiles = 4)
  def lineitem(root: String) = new MorStore(spark, s"$root/lineitem", "l_month", lineitemCfg)

  def window(feed: DataFrame, w: Window): DataFrame =
    Windowed.cursorWindow(feed, "updated_at", lit(w.start).cast("timestamp"), lit(w.end).cast("timestamp"))

  def upserts(li: DataFrame): DataFrame = li.filter(col("op") === "U").drop("op")
  def deletes(li: DataFrame): DataFrame =
    li.filter(col("op") === "D").select("l_month", "l_orderkey", "l_linenumber", "updated_at")
}

/** Write path. A regular op is one CDC window through the E1 slice —
  * cursor window → ingest → checks → staging → orders upsert → lineitem
  * delta with tombstones → watermarks → run-metadata row → incremental
  * mart refresh — followed by the analysts' reads of the refreshed layer
  * that the reference schedules on the same cadence: a day rollup over the
  * orders manifest, a month aggregate that the rollup-rewrite rule answers
  * from the last published rollup, a reconcile-on-read aggregate of lineitem, and a
  * pruned lookup of the orders the window inserted. A maintenance op is
  * the reference's backdate job: it re-pulls the whole past day through
  * the same slice and merges it again, logs its run, refreshes the mart,
  * then compacts the lineitem store, vacuums both stores and republishes
  * the month rollup. The warm-up runs one op of each kind; timed ops
  * then alternate, regular first. */
final class OdsCdc(spark: SparkSession, in: String, out: String) extends Workload {
  val kind = "window"
  val cycle = 2
  private val ods = new Ods(spark, in)
  private var root: String = _
  private var orders: ManifestStore = _
  private var lineitem: MorStore = _
  private var runner: SqlModelRunner = _
  private var wm: WatermarkStore = _
  private var meta: MetaStore = _
  private var applied = 0
  private var backdates = 0
  /** The analysts' answers of the latest window, dumped for the checks. */
  private val answers = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  /** Incremental with a two-day lookback, so the rows a backdate re-merge
    * brings in (cursors up to two days old) reach the mart too. */
  private val MartSql =
    """{{ config(materialized='incremental', unique_key='o_orderkey') }}
      |select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_month, updated_at,
      |       case when o_totalprice >= 200000 then 'large' else 'small' end as size_band
      |from {{ source('ods', 'orders') }}
      |{% if is_incremental() %}
      |where updated_at >= (select max(updated_at) from {{ this }}) - interval 2 days
      |{% endif %}""".stripMargin
  private val dec = DataType.fromDDL("decimal(18,2)")
  private def decSum(c: String) = sum(col(c).cast(dec)).cast("double")
  private val priceSum = Seq(SumMeasure("o_totalprice", Some(dec), "sum_price"))
  private val RollupKeys = Seq("o_month", "o_orderstatus")
  /** The orders version the published rollup was built from, and the
    * windows and backdate re-merges it had merged. */
  private var rollup: (DataFrame, Int, Int) = _
  /** The same counts for the rollup the kept rewrite answer came from. */
  private var rewriteAsOf = (0, 0)

  def build(dir: String): Unit = {
    root = dir
    orders = ods.orders(dir)
    lineitem = ods.lineitem(dir)
    wm = new WatermarkStore(spark, s"$dir/watermarks")
    meta = new MetaStore(spark, s"$dir/meta")
    orders.snapshot(ods.odsOrders)
    lineitem.snapshot(ods.odsLineitem)
    runner = new SqlModelRunner(spark, s"$dir/models", storeFilesPerVersion = 2)
      .addModel("orders_mart", MartSql, ModelTests(notNull = Seq("o_orderkey"), unique = Seq("o_orderkey")))
    refreshMart()
    publishRollup()
  }

  private def refreshMart(): Unit = {
    runner.addSource("ods", "orders", orders.read.get)
    runner.run("orders_mart")
  }

  def warmup(tr: Trace): Unit = { window(tr, None); maintenance(tr, None) }

  /** Every generated window after the warm-up's, each with a maintenance op. */
  def capacity: Int = (ods.windows.size - 1) * cycle

  def step(maint: Boolean, tr: Trace, o: Op): Unit =
    if (maint) maintenance(tr, Some(o)) else window(tr, Some(o))

  /** Stage one cursor window of both feeds and merge it into the stores.
    * The backdate re-merge names its spans `backdate.*`, so the per-layer
    * figures of the regular windows stay apart from it. */
  private def merge(tr: Trace, o: Option[Op], win: Window, backdate: Boolean): Unit = {
    def name(layer: String) = if (backdate) "backdate." + layer.split('.')(1) else layer
    def stage(feed: DataFrame, cfg: TableConfig, expected: Long, table: String): DataFrame = {
      val ingested = Normalize.ingest(ods.window(feed, win), cfg)
      tr.span(name("validate.check")) {
        Checks.enforce(Seq(Checks.notNull(ingested, cfg.keys), Checks.unique(ingested, cfg.keys),
          Checks.rowCountReconciles(expected, ingested.count())))
      }
      val path = s"$root/staging/$table"
      val n = tr.span(name("sources.stage"))(Staging.overwrite(ingested, path))
      tr.count(name("sources.staged_rows"), n.toDouble)
      o.foreach(_.add("rows", n.toDouble))
      Staging.read(spark, path)
    }
    val so = stage(ods.feedOrders, ods.ordersCfg, win.orders, "orders")
    val sl = stage(ods.feedLineitem, ods.lineitemCfg, win.lines, "lineitem")
    tr.span(name("pipeline.upsert"))(orders.upsert(so, ods.ordersCfg))
    tr.span(name("pipeline.apply_delta"))(lineitem.applyDelta(ods.upserts(sl), ods.deletes(sl)))
  }

  private def liveSegments(tr: Trace): Unit =
    if (tr.tracing) tr.count("pipeline.live_segments", (orders.liveSegments + lineitem.liveSegments).toDouble)

  private def window(tr: Trace, o: Option[Op]): Unit = {
    val w = applied
    val win = ods.windows(w)
    val before = if (tr.tracing) Main.dirBytes(s"$root/orders") + Main.dirBytes(s"$root/lineitem") else 0L
    merge(tr, o, win, backdate = false)
    applied += 1
    if (tr.tracing) {
      val written = Main.dirBytes(s"$root/orders") + Main.dirBytes(s"$root/lineitem") - before
      tr.count("pipeline.bytes_written", written.toDouble)
    }
    tr.span("sources.watermark") {
      wm.set("ods.orders", win.end)
      wm.set("ods.lineitem", win.end)
    }
    tr.span("meta.log") {
      meta.timed("ods_cdc", "cdc_window", win.end.take(10))(s"window $w: ${win.orders} orders, ${win.lines} lines")
    }
    tr.span("models.run")(refreshMart())
    read(tr, win)
    liveSegments(tr)
  }

  /** The backdate job: re-merge the past day (the watermark stays where
    * the regular windows put it), then the stores' maintenance. */
  private def maintenance(tr: Trace, o: Option[Op]): Unit = {
    val day = ods.backdate
    tr.span("pipeline.backdate")(merge(tr, o, day, backdate = true))
    backdates += 1
    tr.span("meta.log") {
      meta.timed("ods_cdc", "backdate", day.start.take(10))(s"backdate ${day.orders} orders, ${day.lines} lines")
    }
    tr.span("models.run")(refreshMart())
    tr.span("pipeline.compact")(lineitem.compact())
    tr.span("pipeline.vacuum") { lineitem.vacuum(); orders.vacuum() }
    tr.span("plans.rollup_build")(publishRollup())
    liveSegments(tr)
  }

  private def keep(name: String, df: DataFrame): Unit = answers(name) = (df.collect(), df.schema)

  /** Publish the month rollup of the current orders version: the
    * materialized view the rewrite answers from until the next
    * maintenance. The rewrite base is pinned to that same version
    * (`readAt`), so answers are exact however many windows merge since. */
  private def publishRollup(): Unit = {
    val v = orders.latestManifestVersion.get
    val base = orders.readAt(v).get
    RollupRewrite.buildRollup(base, RollupKeys, priceSum).write.mode("overwrite").parquet(s"$root/rollup")
    rollup = (base, applied, backdates)
  }

  private def read(tr: Trace, win: Window): Unit = {
    val fact = tr.span("pipeline.manifest_read")(orders.read.get)
    tr.span("marts.rollup") {
      keep("day_rollup", Marts.dayRollup(fact, "o_orderdate", Seq("o_orderstatus"),
        Seq(count(lit(1)).as("n"), decSum("o_totalprice").as("revenue")))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd")))
    }
    tr.span("plans.rewrite") {
      val (base, windows, backdated) = rollup
      rewriteAsOf = (windows, backdated)
      RollupRewrite.withRollup(spark, "ods_orders_rollup", base, RollupKeys, priceSum,
          spark.read.parquet(s"$root/rollup")) {
        val q = base.filter(col("o_orderstatus") =!= "P").groupBy("o_month")
          .agg(decSum("o_totalprice").as("sum_price"), count(lit(1)).as("n"))
        val roots = q.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
        }.flatten
        tr.count("plans.rewrite_eligible", 1)
        tr.count("plans.rewrite_hits", if (roots.nonEmpty && roots.forall(_.endsWith("/rollup"))) 1 else 0)
        keep("month_rewrite", q)
      }
    }
    tr.span("pipeline.reconcile_read") {
      keep("lineitem_agg", lineitem.read.get.groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("n"), decSum("l_quantity").as("sum_qty"), decSum("l_extendedprice").as("sum_price")))
    }
    tr.span("pipeline.pruned_read") {
      val (df, st) = orders.readPruned(Seq(
        Layout.RangePred("o_orderkey", Some(win.newKeyLo), Some(win.newKeyHi)))).get
      tr.count("pipeline.files_selected", st.selectedFiles.toDouble)
      tr.count("pipeline.files_total", st.totalFiles.toDouble)
      keep("new_orders", df.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_month"))
    }
  }

  def finish(info: mutable.Map[String, Any]): Unit = {
    info("windows_applied") = applied
    info("backdates") = backdates
    info("last_window") = ods.windows(applied - 1).newKeyLo + " " + ods.windows(applied - 1).newKeyHi
    info("rollup_windows") = rewriteAsOf._1
    info("rollup_backdates") = rewriteAsOf._2
    for ((name, (rows, schema)) <- answers)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$out/answers/$name")
    info("stored_bytes") = Main.dirBytes(s"$root/orders") + Main.dirBytes(s"$root/lineitem")
    info("live_segments") = orders.liveSegments + lineitem.liveSegments
    info("watermark") = wm.get("ods.orders").getOrElse("")
    orders.read.get.write.parquet(s"$out/orders")
    lineitem.read.get.write.parquet(s"$out/lineitem")
    runner.store("orders_mart").read.get.write.parquet(s"$out/orders_mart")
  }
}
