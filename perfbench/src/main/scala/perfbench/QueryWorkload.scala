package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Bm25Index}
import graft.queries.Ctx

/** `query_mix`: seven relational registry queries and one LLM-data
  * registry query, each run as `Registry.byName(q).fn` written to the
  * noop sink, plus two direct operator calls, each an index build
  * followed by a probe of the new index: `AnnIndex` over the
  * embeddings and `Bm25Index` over the documents. A round runs every
  * operation once in an order the workload seed sets; the run times
  * whole rounds until its time is up.
  *
  * The queries are fixed, one per module, and chosen to cost about the
  * same (0.3 to 0.45 s each on a 32-core host): the registry holds queries
  * from 0.1 s to 17 s, and a sample drawn per run moved the medians by
  * more than any bound a later change could be held to. Eight of the ten
  * operations of a round are queries, so `op_p50_s` is a query's time
  * (mostly fixed per-query cost: planning, scheduling, codegen) and
  * `op_tail_s` is an operator call's (data-bound). The seed sets the
  * round order and the probe batches.
  *
  * Set-up runs each operation once with its output written to parquet
  * for the output check (run.py compares each query's with its stored
  * DuckDB oracle answer and checks the probes' structure), and then one
  * untimed round as warm-up: every timed operation is at least the
  * operation's third execution in the process.
  */
object QueryWorkload {
  /** The timed queries and the registry module each comes from. */
  val Queries: Seq[(String, String)] = Seq(
    "xi1_incremental_agg" -> "Aggregates",
    "q66_sql_tpch13" -> "Sql",
    "q06_broadcast_join" -> "Joins",
    "q15_lag_lead" -> "Windows",
    "q20_intersect" -> "SetOps",
    "q26b_collect_sorted" -> "Scalars",
    "xe3_transitions" -> "EventOps",
    "xd12_decontaminate" -> "Dedup")

  private def shuffle[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq
  }

  /** One timed step of an operation, a span of its own in a traced run. */
  final case class Part(kind: String, label: String, run: () => Unit)

  /** One operation of a round: a registry query, or an operator's build
    * and probe. `check` runs it once with its output written to parquet
    * at the given path; `checkKind` tells run.py how to check that
    * output and `expect` what to expect of it (the probe batch size). */
  final case class Op(kind: String, label: String, parts: Seq[Part],
      check: String => Unit, checkKind: String, expect: () => Long = () => 0L)

  def run(spark: SparkSession, a: Main.Args, rec: Recorder): Seq[(String, String)] = {
    val rnd = new SplittableRandom(a.seed)
    val ctx = Ctx(spark, a.data)
    val idx = a.work.resolve("index")
    val annPath = idx.resolve("ann").toString
    val bm25Path = idx.resolve("bm25").toString
    def docs: DataFrame = ctx.documents.select("doc_id", "text")
    // probe batches: slices of the corpus itself that the seed chooses
    val annQ = rnd.nextInt(97)
    val bm25Q = rnd.nextInt(499)
    def annQueries: DataFrame = ctx.table("embeddings")
      .filter(col("vec_id") % 97 === annQ)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def bm25Queries: DataFrame = ctx.table("documents")
      .filter(col("doc_id") % 499 === bm25Q)
      .select(col("doc_id").as("query_id"), col("text"))
    val K = 10
    def toParquet(df: DataFrame)(path: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(path)

    val registry = graft.queries.Registry.byName
    val queryOps = Queries.map { case (q, _) =>
      def df = registry(q).fn(spark, a.data)
      Op("query", q, Seq(Part("query", q, () => Main.noop(df))), toParquet(df), "query")
    }
    def annBuild(): Unit = AnnIndex.build(spark, ctx.embeddings, annPath)
    def annProbe = AnnIndex.probeBatch(spark, annPath, annQueries, K, nprobe = 3)
    def bm25Build(): Unit = Bm25Index.build(spark, docs, bm25Path)
    def bm25Probe = Bm25Index.probeBatch(spark, bm25Path, bm25Queries, K)
    val operatorOps = Seq(
      Op("ann", "AnnIndex", Seq(
          Part("ann_build", "AnnIndex.build", () => annBuild()),
          Part("ann_probe", "AnnIndex.probeBatch", () => Main.noop(annProbe))),
        p => { annBuild(); toParquet(annProbe)(p) }, "ann_probe", () => annQueries.count()),
      Op("bm25", "Bm25Index", Seq(
          Part("bm25_build", "Bm25Index.build", () => bm25Build()),
          Part("bm25_probe", "Bm25Index.probeBatch", () => Main.noop(bm25Probe))),
        p => { bm25Build(); toParquet(bm25Probe)(p) }, "bm25_probe", () => bm25Queries.count()))
    val round = shuffle(queryOps ++ operatorOps, rnd)

    // output check pass, untimed
    val rows = scala.collection.mutable.HashMap[String, Long]()
    val checkDir = a.work.resolve("check")
    round.foreach { op =>
      Main.clearMemos()
      val path = checkDir.resolve(op.label).toString
      val (_, r) = rec.span("check", op.label, timed = false)(op.check(path))
      Main.release(spark)
      val written = new java.io.File(path).isDirectory
      if (written && a.trace) rows(op.label) = spark.read.parquet(path).count()
      rec.checks += Check(op.label, op.checkKind, if (written) path else "", op.expect(),
        r.left.toOption.map(e => s"threw: $e").getOrElse(""))
    }
    val failedChecks = rec.checks.filter(_.error.nonEmpty).map(_.name).toSet

    def runRound(timed: Boolean): Unit = round.foreach { op =>
      val parts = op.parts.map { p =>
        Main.clearMemos()
        val (secs, r) = rec.span(p.kind, p.label, timed)(p.run())
        r.left.foreach(e => System.err.println(s"[perfbench] ${p.label} threw: $e"))
        if (timed && op.parts.size > 1) rec.sample(p.kind, p.label, secs, r.isRight, primary = false)
        Main.release(spark)
        (secs, r.isRight)
      }
      if (timed) {
        rec.tracer.foreach(_.rowsOut(rows.getOrElse(op.label, 0L)))
        rec.sample(op.kind, op.label, parts.map(_._1).sum,
          parts.forall(_._2) && !failedChecks.contains(op.label))
      }
    }

    runRound(timed = false)
    val startNs = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - startNs) / 1e9 < a.seconds) {
      runRound(timed = true)
      rounds += 1
    }
    rec.tracer.foreach(_.indexMb = dirMb(idx.resolve("ann")) + dirMb(idx.resolve("bm25")))
    Seq(
      "round_ops" -> round.size.toString,
      "timed_rounds" -> rounds.toString)
  }

  private def dirMb(p: java.nio.file.Path): Double =
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_))
        .sum() / 1048576.0
      finally s.close()
    }
}
