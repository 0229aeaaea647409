package perfbench

import scala.collection.mutable

import graft.ext.{Decontaminate, Dedup, Drift, ExtQueries, LangModel, Multimodal, Packing, Similarity, TextStats}
import graft.queries.Reference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A workload: the ops of each pass, in order, and the cache hygiene that
  * keeps one op from reading another's results. */
abstract class Workload(val spark: SparkSession) {
  def pass(p: Int): Seq[Op]

  /** Bytes of cached data (memory and disk) Spark holds right now. */
  def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Runs after each op's record is taken, outside timing. */
  def afterOp(op: String): Unit = dropAllCaches()
  def afterPass(p: Int): Unit = dropAllCaches()
  def opExtra(op: String): Map[String, Double] = Map.empty

  protected def dropAllCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Workloads {
  def apply(name: String, spark: SparkSession, dir: String, root: String, seed: Long): Workload =
    name match {
      case "reference_etl" => new Chain(
        new IngestWorkload(spark, dir, root),
        new QueryWorkload(spark, dir, Some(seed), Reference.all.map(q => (q, "queries.Reference"))))
      case "ext_curate" =>
        val byName = ExtQueries.all.map(q => q.name -> q).toMap
        new Chain(
          new QueryWorkload(spark, dir, None, ExtHeavy.map { case (n, m) => (byName(n), m) }),
          new CurateWorkload(spark, dir))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** The exchange-heavy extension queries, one per operator family, each
    * with the module that implements it (the module its latency is charged
    * to). They run in this fixed order, like the Curate stages after them:
    * the first-use cost that lands on whichever op runs first would
    * otherwise move the medians from run to run. */
  val ExtHeavy: Seq[(String, String)] = Seq(
    "e10_percentiles" -> "ext.Percentiles",
    "e41_corr_matrix" -> "ops.Stats",
    "e23_pagerank" -> "ops.PageRank",
    "e94_triangles" -> "ops.Triangles")
}

/** Declared queries: build the DataFrame, then run it into the
  * fingerprint sink; in seeded order when there is a seed. */
final class QueryWorkload(spark: SparkSession, dir: String, seed: Option[Long],
    queries: Seq[(Reference.Q, String)]) extends Workload(spark) {
  private val ops = queries.map { case (q, module) =>
    Op(q.name, module, ctx => {
      val df = ctx.phase("build")(q.run(spark, dir))
      val fp = ctx.phase("exec")(Sink.fingerprint(df))
      () => fp
    })
  }
  def pass(p: Int): Seq[Op] =
    seed.fold(ops)(s => new scala.util.Random(s * 1000003L + p).shuffle(ops))
}

/** The passes of several workloads, one after the other; each op's
  * hygiene and extra counters are its own workload's. */
final class Chain(parts: Workload*) extends Workload(parts.head.spark) {
  private val owner = mutable.Map.empty[String, Workload]
  def pass(p: Int): Seq[Op] = parts.flatMap { w =>
    val ops = w.pass(p)
    ops.foreach(o => owner(o.name) = w)
    ops
  }
  override def afterOp(op: String): Unit = owner(op).afterOp(op)
  override def afterPass(p: Int): Unit = parts.foreach(_.afterPass(p))
  override def opExtra(op: String): Map[String, Double] = owner(op).opExtra(op)
}

/** The stage sequence of `graft.examples.Curate`, in its order: every
  * stage one op, each stage's output materialized with an eager
  * `localCheckpoint` as Curate does. */
final class CurateWorkload(spark: SparkSession, dir: String)
    extends Workload(spark) {
  private val pinned = mutable.Map.empty[DataFrame, Seq[org.apache.spark.rdd.RDD[_]]]
  private def pin(df: DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(true)
    pinned(out) = (sc.getPersistentRDDs.keySet -- before).toSeq.flatMap(sc.getPersistentRDDs.get)
    out
  }
  private def drop(dfs: DataFrame*): Unit =
    dfs.foreach(df => pinned.remove(df).toSeq.flatten.foreach(_.unpersist(blocking = false)))
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  /** Builds a stage output, then materializes it. */
  private def stage(ctx: Ctx)(build: => DataFrame): DataFrame = {
    val df = ctx.phase("build")(build)
    ctx.phase("exec")(pin(df))
  }

  // stage outputs of the current pass
  private var raw, gated, diverse, near, unrep, fluent, clean, capped, chunks: DataFrame = _
  private def fp(df: DataFrame): () => String = () => Sink.fingerprint(df)
  private def fp(s: String): () => String = { val v = Sink.ofString(s); () => v }

  private val chain: Seq[Op] = Seq(
    Op("read", "spark.read", ctx => {
      raw = ctx.phase("exec")(pin(docs))
      raw.count()
      fp(raw)
    }),
    Op("quality_scrub", "ext.TextStats", ctx => {
      gated = stage(ctx)(TextStats.qualityFilter(
          raw.withColumn("text", TextStats.scrubPii(col("text"))))
        .where(col("quality_pass")).drop("quality_pass", "quality_fail_reasons"))
      gated.count()
      fp(gated)
    }),
    Op("diversity", "ext.TextStats", ctx => {
      diverse = stage(ctx) {
        val divIds = TextStats.distinctNgrams(gated)
          .where(col("distinct2").isNull || col("distinct2") >= 0.2)
          .select(col("doc_id").as("__div_id"))
        gated.join(divIds, col("doc_id") === col("__div_id")).drop("__div_id")
      }
      diverse.count()
      drop(gated)
      fp(diverse)
    }),
    Op("dedup", "ext.Dedup", ctx => {
      val exact = stage(ctx)(Dedup.exactRows(diverse))
      near = stage(ctx)(Dedup.nearDedupRows(exact, minJaccard = 0.7))
      val s = s"${exact.count()}/${near.count()}"
      drop(diverse, exact)
      val f = fp(near)
      () => s"$s:${f()}"
    }),
    Op("span_mask", "ext.Dedup", ctx => {
      unrep = stage(ctx)(Dedup.maskRepeatedSpans(near, n = 10, minDocs = 2, keepFirst = true)
        .withColumn("text", col("clean_text")).drop("clean_text"))
      unrep.count()
      drop(near)
      fp(unrep)
    }),
    Op("lm_gate", "ext.LangModel", ctx => {
      val lm = stage(ctx)(LangModel.lmScore(unrep)
        .select(col("doc_id").as("__lm_id"), col("avg_logprob")))
      val p05 = ctx.phase("exec")(graft.ext.Percentiles.approx(
          lm.where(col("avg_logprob") =!= 0.0), Seq("avg_logprob" -> Seq(0.05)))
        .head().getSeq[Double](0).head)
      fluent = stage(ctx)(unrep.join(lm, col("doc_id") === col("__lm_id"))
        .where(col("avg_logprob") > p05 || col("avg_logprob") === 0.0)
        .drop("__lm_id", "avg_logprob"))
      fluent.count()
      drop(unrep, lm)
      val f = fp(fluent)
      () => s"$p05:${f()}"
    }),
    Op("decontam", "ext.Decontaminate", ctx => {
      val bench = raw.where(col("doc_id") % 10 === 0)
      clean = stage(ctx)(Decontaminate.removeContaminated(fluent, bench, n = 8))
      clean.count()
      drop(fluent)
      fp(clean)
    }),
    Op("dsir", "ext.LangModel", ctx => {
      val bench = raw.where(col("doc_id") % 10 === 0)
      val df = ctx.phase("build")(LangModel.dsirSample(clean, bench, k = 50))
      val n = ctx.phase("exec")(df.count())
      val f = fp(df)
      () => s"$n:${f()}"
    }),
    Op("mix_cap", "ops.Splits", ctx => {
      val mixed = ctx.phase("build")(graft.ops.Splits.stratifiedSampleByHash(clean, "lang",
        Map("en" -> 100, "de" -> 70, "fr" -> 70, "es" -> 50, "zh" -> 50)))
      capped = stage(ctx)(graft.ops.Splits.capPerGroup(mixed.drop("bucket"), "lang", k = 120))
      val s = s"${mixed.count()}/${capped.count()}"
      drop(clean, raw)
      val f = fp(capped)
      () => s"$s:${f()}"
    }),
    Op("mixture_ledger", "ext.Drift", ctx => {
      val plan = ctx.phase("exec")(Drift.mixturePlan(capped, budgetTokens = 1000000L,
        sourceCol = "lang").collect().map(_.mkString("|")).sorted.mkString(" "))
      val jsdMax = ctx.phase("exec")(Drift.sourceJsd(capped)
        .agg(max(col("jsd_nats"))).head().getDouble(0))
      fp(s"$plan;$jsdMax")
    }),
    Op("split_chunk", "ops.Splits", ctx => {
      val split = ctx.phase("build")(graft.ops.Splits.splitByHash(capped))
      val counts = ctx.phase("exec")(split.groupBy("split").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" "))
      chunks = stage(ctx)(TextStats.chunkTokens(
        split.where(col("split") === "train"), windowTokens = 32, overlapTokens = 4))
      chunks.count()
      drop(capped)
      val f = fp(chunks)
      () => s"$counts:${f()}"
    }),
    Op("packing", "ext.Packing", ctx => {
      val packed = ctx.phase("build")(Packing.packSequences(
        chunks.select((col("doc_id") * 100000L + col("chunk_idx")).as("chunk_id"),
          col("doc_id"), col("n_chunk_tokens").as("n_tokens")),
        budget = 128, numBuckets = 16, idCol = "chunk_id", docCol = "doc_id"))
      val nSeqs = ctx.phase("exec")(
        packed.select(col("bucket") * 1000000L + col("seq")).distinct().count())
      val n = ctx.phase("exec")(packed.count())
      // `packed` reads the `chunks` checkpoint: fingerprint it before the drop
      () => try s"$n/$nSeqs:${Sink.fingerprint(packed)}" finally drop(chunks)
    }))

  private val embeddings = Op("embeddings", "ext.Similarity", ctx => {
    val (q8, deq, emb) = ctx.phase("build") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val q8 = Similarity.quantizeInt8(emb)
      (q8, Similarity.dequantizeInt8(q8), emb)
    }
    val exactTop = ctx.phase("exec")(
      Similarity.bruteForceTopK(emb, 0L, 5).collect().map(_.getLong(0)).toSeq)
    val quantTop = ctx.phase("exec")(
      Similarity.bruteForceTopK(deq, 0L, 5).collect().map(_.getLong(0)).toSeq)
    val n = ctx.phase("exec")(q8.count())
    fp(s"$n;${exactTop.mkString(",")};${quantTop.mkString(",")}")
  })

  private val media = Op("media", "ext.Multimodal", ctx => {
    val feats = ctx.phase("build")(Multimodal.extractFeatures(
      Multimodal.syntheticMedia(spark, docs.limit(100)), Multimodal.ImageIoCodec, dim = 16))
    fp(ctx.phase("exec")(Sink.fingerprint(feats)))
  })

  def pass(p: Int): Seq[Op] = chain :+ embeddings :+ media

  // stage outputs are live checkpoints the next stages read: between
  // stages only the session cache (operator-internal persists) is cleared
  override def afterOp(op: String): Unit = spark.catalog.clearCache()
  override def afterPass(p: Int): Unit = {
    pinned.clear()
    raw = null; gated = null; diverse = null; near = null; unrep = null
    fluent = null; clean = null; capped = null; chunks = null
    dropAllCaches()
  }
}

/** CSV → parquet → catalog → partitioned layout → compaction → read-back,
  * the reference's ETL, into a fresh directory and database per pass. */
final class IngestWorkload(spark: SparkSession, dir: String, root: String)
    extends Workload(spark) {
  private val csvDir = s"$dir/csv"
  private var passDir: String = _
  private var db: String = _
  private val extra = mutable.Map.empty[String, Map[String, Double]]

  private def parquetFiles(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(path))
  }

  private val ops: Seq[Op] = Seq(
    Op("csv_to_parquet", "ingest.IngestJob", ctx => {
      val schemas = ctx.phase("call")(graft.ingest.IngestJob.csvDirToParquet(spark, csvDir, s"$passDir/pq"))
      val files = parquetFiles(s"$passDir/pq")
      extra("csv_to_parquet") = Map("files" -> files.size.toDouble,
        "bytes" -> files.map(_.length).sum.toDouble)
      val s = schemas.toSeq.sortBy(_._1).map { case (t, st) => s"$t ${st.simpleString}" }.mkString(";")
      () => Sink.ofString(s)
    }),
    Op("register", "catalog.Ddl", ctx => {
      val names = ctx.phase("call")(graft.catalog.Ddl.registerDir(spark, db, s"$passDir/pq"))
      val s = names.sorted.mkString(",")
      () => Sink.ofString(s)
    }),
    Op("write_partitioned", "ops.Layout", ctx => {
      ctx.phase("call")(graft.ops.Layout.writePartitioned(
        spark.table(s"$db.events").withColumn("day", to_date(col("ts"))), s"$passDir/by_day", "day"))
      val files = parquetFiles(s"$passDir/by_day")
      extra("write_partitioned") = Map("files" -> files.size.toDouble,
        "bytes" -> files.map(_.length).sum.toDouble)
      val days = Option(new java.io.File(s"$passDir/by_day").list()).toSeq.flatten
        .filter(_.startsWith("day=")).sorted.mkString(",")
      () => Sink.ofString(days)
    }),
    Op("compact", "ops.Layout", ctx => {
      val (nIn, nOut) = ctx.phase("call")(graft.ops.Layout.compactTo(spark,
        s"$passDir/by_day", s"$passDir/compact", targetFileBytes = 1L << 20))
      val files = parquetFiles(s"$passDir/compact")
      extra("compact") = Map("files_in" -> nIn.toDouble, "files_out" -> nOut.toDouble,
        "files" -> files.size.toDouble, "bytes" -> files.map(_.length).sum.toDouble)
      () => Sink.ofString(s"$nIn/$nOut")
    }),
    Op("read_back", "catalog.Ddl", ctx => {
      val tables = ctx.phase("build")(spark.catalog.listTables(db).collect().map(_.name).sorted.toSeq)
      val fps = tables.map(t => t -> ctx.phase("exec")(Sink.fingerprint(spark.table(s"$db.$t"))))
      val compacted = ctx.phase("exec")(Sink.fingerprint(spark.read.parquet(s"$passDir/compact")))
      val s = (fps :+ ("compact" -> compacted)).map { case (t, f) => s"$t=$f" }.mkString(";")
      () => Sink.ofString(s)
    }))

  def pass(p: Int): Seq[Op] = {
    passDir = s"$root/etl/p${p + 1}"
    db = s"etl_p${p + 1}"
    extra.clear()
    ops
  }
  override def opExtra(op: String): Map[String, Double] = extra.getOrElse(op, Map.empty)
  override def afterPass(p: Int): Unit = {
    dropAllCaches()
    graft.catalog.Ddl.dropDatabaseCascade(spark, db)
    deleteTree(new java.io.File(passDir))
  }
  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
