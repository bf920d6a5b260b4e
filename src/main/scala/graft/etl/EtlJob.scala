package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.jdk.CollectionConverters._

/** One ETL cycle — the Spark-native re-expression of the reference's
  * _run() (main.py:197-220). Like ExportOriginJob (main.py:147-171) it
  * scans the range once and emits every table from that one scan:
  *
  *   scan(range) -> filter(contract events) -> enrich(ipfs) -> cache ->
  *   per table: parse/flatten -> [explode products] -> enforce schema ->
  *   one count gate over all four tables (empty short-circuit) ->
  *   the non-empty partitioned appends, concurrently -> cursor advance
  *
  * Failure contract is the reference's: any exception leaves the cursor
  * unmoved, the whole range replays next cycle (at-least-once,
  * main.py:216-220), and consumers read through dedupView (P14). A
  * failed load is rethrown only after its sibling loads have settled.
  *
  * Scale posture: the sink is parquet partitioned by block bucket
  * (block_number - block_number % bucketSize), so (a) replays can be
  * made idempotent by dynamic partition overwrite, and (b) downstream
  * range scans prune partitions on block_number for free.
  */
object EtlJob {

  val MarketplaceAddr = "0x_origin_marketplace"
  val MarketplaceTopic = "ListingCreated"
  val DshopTopic = "DshopProductsUpdated"

  final case class Config(
      chainDir: String,
      sinkDir: String,
      cursorDir: String,
      startBlockEpoch: Long = 10014455L,   // main.py:29
      blockLag: Long = 4L,                 // main.py:32
      batchSize: Int = 1000,               // main.py:34-35
      idempotent: Boolean = false,         // overwrite-by-partition upgrade
      resolver: IpfsResolver = EmbeddedResolver,
      // None = atomic-rename file in cursorDir; Some = any CursorStore
      // (e.g. JdbcCursor against the warehouse DB, the reference shape)
      cursorStore: Option[CursorStore] = None)

  final case class CycleStats(
      ran: Boolean, startBlock: Long, endBlock: Long,
      marketplaceRows: Long, dshopRows: Long, rejectRows: Long)

  /** P2+P3: compute the cycle's block range; None = empty cycle. */
  def plannedRange(cfg: Config, latest: Long, cursor: Option[Long]): Option[(Long, Long)] = {
    val start = cursor.map(_ + 1).getOrElse(cfg.startBlockEpoch)
    val end = latest - cfg.blockLag                 // confirmation lag
    if (end < start) None else Some((start, end))
  }

  /** The four sink tables, in the order CycleStats reports them. */
  private val Outputs = Seq("marketplace", "dshop", "rejects/marketplace", "rejects/dshop")

  def runCycle(spark: SparkSession, cfg: Config): CycleStats = {
    val source = new ChainSource(spark, cfg.chainDir)
    val cursor: CursorStore = cfg.cursorStore.getOrElse(Cursor(cfg.cursorDir))
    plannedRange(cfg, source.latestBlock(), cursor.read()) match {
      case None =>
        CycleStats(ran = false, 0, 0, 0, 0, 0)     // P11 short-circuit
      case Some((start, end)) =>
        val logs = source.scan(start, end, cfg.batchSize)
        // cached: the gate and every load read this one scan of the chain.
        // It holds the range's contract events only, not a table batch,
        // and spills to disk rather than pressuring executor memory.
        val resolved = Enrich(logs.filter(
          col("address") === MarketplaceAddr &&
            col("topic0").isin(MarketplaceTopic, DshopTopic)), cfg.resolver)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // P7: marketplace — flatten listing JSON to the 12-col schema
          val marketplace = resolved
            .filter(col("topic0") === MarketplaceTopic)
            .withColumn("j", from_json(col("content"), Schemas.listingJson))
            .select(col("block_number") +: col("log_index") +:
              Schemas.listingJson.fieldNames.toIndexedSeq.map(n => col(s"j.$n")): _*)

          // P8: dshop — one output row per product in the catalog
          val dshop = resolved
            .filter(col("topic0") === DshopTopic)
            .withColumn("j", from_json(col("content"), Schemas.dshopCatalogJson))
            .select(col("block_number"), col("log_index"),
              col("j.listing_id").as("listing_id"), col("j.ipfs_path").as("ipfs_path"),
              explode(col("j.products")).as("p"))
            .select(col("block_number"), col("log_index"), col("listing_id"),
              col("p.product_id"), col("ipfs_path"), col("p.external_id"),
              col("p.parent_external_id"), col("p.title"), col("p.description"),
              col("p.price"), col("p.currency"), col("p.option1"), col("p.option2"),
              col("p.option3"), col("p.image"))

          val em = SchemaEnforce(marketplace.toDF(), Schemas.marketplace)
          val ed = SchemaEnforce(dshop, Schemas.dshop)
          val frames = Outputs.zip(Seq(em.valid, ed.valid, em.rejects, ed.rejects))

          // P11 for all four tables in one job: which outputs have rows
          val nonEmpty = frames
            .map { case (name, df) => df.select(lit(name).as("out")) }
            .reduce(_ union _)
            .groupBy("out").count()
            .collect().map(_.getString(0)).toSet
          val rows = loadAll(frames.filter { case (name, _) => nonEmpty(name) }, cfg)
            .withDefaultValue(0L)

          // P13: cursor advances ONLY after every load succeeded
          cursor.write(end)
          CycleStats(ran = true, start, end, rows("marketplace"), rows("dshop"),
            rows("rejects/marketplace") + rows("rejects/dshop"))
        } finally resolved.unpersist()
    }
  }

  /** Runs the non-empty loads concurrently, so one load's planning and
    * commit overlap another's tasks, on a pool that lives for this call
    * only. Waits for every load to settle before it returns their row
    * counts or rethrows the first failure: no write outlives the cycle
    * or the single-writer window (P19).
    */
  private def loadAll(outputs: Seq[(String, DataFrame)], cfg: Config): Map[String, Long] =
    if (outputs.isEmpty) Map.empty
    else {
      val pool = Executors.newFixedThreadPool(outputs.size)
      try {
        val done = pool.invokeAll(outputs.map { case (name, df) =>
          (() => load(df, s"${cfg.sinkDir}/$name", cfg)): Callable[Long]
        }.asJava)
        outputs.map(_._1).zip(done.asScala.map { f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause }
        }).toMap
      } finally pool.shutdown()
    }

  /** P10+P12: partitioned append load (the BigQuery load-job stand-in)
    * of a batch the gate found non-empty. Returns the row count, like
    * _bigquery_load (main.py:160-185), as an OBSERVED metric riding the
    * write action itself. The batch is read from the cycle's cache; the
    * dynamic overwrite mode is a write option, never session state, so
    * concurrent loads and later work on the session are unaffected.
    */
  private def load(df: DataFrame, path: String, cfg: Config): Long = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.withColumn(
        "block_bucket", col("block_number") - (col("block_number") % cfg.batchSize))
      .observe(obs, count(lit(1)).as("n"))
    val writer = observed.write.partitionBy("block_bucket")
    if (cfg.idempotent)
      writer.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic").parquet(path)
    else writer.mode(SaveMode.Append).parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** P14: consumer-side dedup view over an at-least-once sink.
    * Deterministic survivor: first by key ordered by all columns.
    */
  def dedupView(spark: SparkSession, path: String, key: Seq[String]): DataFrame = {
    val df = spark.read.parquet(path)
    val others = df.columns.filterNot(key.contains).toIndexedSeq.map(col)
    val w = Window.partitionBy(key.map(col): _*).orderBy(others: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
