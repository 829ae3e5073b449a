package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Corpus, Dedup, Graph, NearDup, TextAnalysis, Transforms}
import graft.functions.Text
import graft.schemas.Warehouse
import graft.sinks.Sinks
import graft.sources.Sources
import graft.streaming.Streaming

/** What one iteration hands back: the output checks, run after the
  * iteration's clock has stopped, and a fingerprint of its result that
  * must be identical on every iteration of a run. */
final case class Outcome(checks: () => Seq[(String, Boolean)], fingerprint: () => String)

/** Per-iteration state shared by a workload and the harness. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val progress: StreamProgress,
    var inDir: String, val outDir: String) {
  val steps = ArrayBuffer.empty[Double]
  var readS = 0.0
  var calls = 0
  /** Per-layer counts the workload measures outside any span, keyed by
    * metric name; kept for traced iterations only. */
  val notes = scala.collection.mutable.Map.empty[String, Double]

  def reset(): Unit = { steps.clear(); readS = 0.0; calls = 0; notes.clear() }

  /** A call into one of the program's layers: counted, and traced as a
    * span named `<layer>.<call>`. */
  def call[T](span: String)(body: => T): T = { calls += 1; tr.span(span)(body) }

  def callWith[T](span: String, pre: => Map[String, Double])(body: => T)(
      post: T => Map[String, Double]): T = {
    calls += 1; tr.spanWith(span, pre)(body)(post)
  }

  /** Time one unit of the workload's repeated work (see `step_p50_s`). */
  def step[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps += (System.nanoTime() - t0) / 1e9
  }

  /** Time the downstream read of the iteration's output. */
  def read[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally readS += (System.nanoTime() - t0) / 1e9
  }

  /** Read an input table through the program's source layer. */
  def table(name: String): DataFrame =
    callWith("sources.table", {
      val (f, b) = Files.stats(s"$inDir/$name.parquet", _.endsWith(".parquet"))
      Map("files" -> f.toDouble, "bytes_mb" -> b / 1e6)
    })(Sources.table(spark, inDir, name))(_ => Map.empty)
}

trait Workload {
  def name: String
  def generate(seed: Long, dir: String): Map[String, Any]
  /** One iteration over the whole input, from empty outputs. */
  def iterate(c: Ctx): Outcome
}

/** A workload made of others run one after the other in the same
  * iteration, each on its own inputs (`<dir>/<phase>`). */
final class Phases(val name: String, phases: Seq[Workload]) extends Workload {
  def generate(seed: Long, dir: String): Map[String, Any] =
    phases.map(p => p.name -> p.generate(seed, s"$dir/${p.name}")).toMap

  def iterate(c: Ctx): Outcome = {
    val root = c.inDir
    val outs = try phases.map { p => c.inDir = s"$root/${p.name}"; p.iterate(c) }
      finally c.inDir = root
    Outcome(() => outs.flatMap(_.checks()), () => outs.map(_.fingerprint()).mkString("|"))
  }
}

object Workloads {
  /** The benchmark's workloads: the ingest flows (daily batch ETL, CDC
    * stream) and the analytics flows (corpus curation, graph ranking). */
  val all: Seq[Workload] = Seq(
    new Phases("ingest", Seq(EtlDaily, StreamIvm)),
    new Phases("analytics", Seq(CurateCorpus, GraphRank)))

  /** A workload, or one phase of one run on its own. */
  def byName(n: String): Workload =
    (all ++ Seq(EtlDaily, StreamIvm, CurateCorpus, GraphRank)).find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** Order-independent content hash of a frame: row count and the sum of
    * per-row 64-bit hashes over every column. */
  def contentHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)")), lit(0))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** etl_daily — the paper's own daily batch flow. */
object EtlDaily extends Workload {
  val name = "etl_daily"
  private val lastPartitionsRead = 5

  def generate(seed: Long, dir: String): Map[String, Any] =
    Gen.etl(seed, dir)

  private final case class Flow(name: String, table: String, keys: Seq[String])
  private val flows = Seq(
    Flow("news", "articles", Seq("url")),
    Flow("posts", "reddit_posts", Seq("reddit_id")),
    Flow("bars", "stock_bars", Seq("company_id", "timestamp")))

  /** Expected warehouse keys per table, computed from the raw input
    * with plain Spark (not through the program). */
  private val expected = scala.collection.mutable.Map.empty[String, Map[String, Long]]

  private def expectedKeys(spark: SparkSession, inDir: String): Map[String, Long] =
    expected.getOrElseUpdate(inDir, {
      def raw(t: String) = spark.read.parquet(s"$inDir/$t.parquet")
      Map(
        "articles" -> raw("news").select("url").distinct().count(),
        "reddit_posts" -> raw("posts")
          .filter(col("reddit_id").isNotNull && col("subreddit").isNotNull &&
            col("published_at").isNotNull &&
            !(!col("is_text_post") && coalesce(col("article_published_at"), lit("")) === ""))
          .select("reddit_id").distinct().count(),
        "stock_bars" -> raw("bars").select("symbol", "timestamp").distinct().count())
    })

  def iterate(c: Ctx): Outcome = {
    val (spark, inDir) = (c.spark, c.inDir)
    val days = Gen.tradingDays
    val nDays = days.size
    val lake = s"${c.outDir}/lake"
    val wh = s"${c.outDir}/warehouse"

    def raw(t: String, d: Int) = c.table(t).filter(col("day") === d).drop("day")

    /** The transform of one flow, persisted and counted once: the lake
      * and the warehouse both load this frame. */
    def transform(span: String)(plan: => DataFrame): (DataFrame, Long) =
      c.callWith(span, Map.empty) {
        val df = plan.persist(StorageLevel.MEMORY_AND_DISK)
        (df, df.count())
      } { case (_, n) => Map("rows_out" -> n.toDouble) }

    def conform(f: Flow, df: DataFrame, stamp: java.sql.Timestamp): DataFrame =
      c.call("warehouse.conform") {
        val audited = df.withColumn("created_at", lit(stamp)).withColumn("updated_at", lit(stamp))
        f.name match {
          case "news" => Warehouse.conform(audited, Warehouse.articleSchema)
          case "posts" => Warehouse.conform(audited, Warehouse.redditPostSchema)
          case _ => Warehouse.conform(audited
              .withColumn("id", Text.deterministicId(col("ticker"), col("timestamp").cast("string")))
              .withColumn("company_id", Text.deterministicId(col("ticker")))
              .withColumnRenamed("open", "open_price").withColumnRenamed("high", "high_price")
              .withColumnRenamed("low", "low_price").withColumnRenamed("close", "close_price"),
            Warehouse.stockBarSchema)
        }
      }

    def appendNew(f: Flow, df: DataFrame, rows: Long): Long = {
      val path = s"$wh/${f.table}"
      c.callWith("sinks.append_new", Map(
          "rows_in" -> rows.toDouble,
          "files_scanned" -> Files.stats(path, _.endsWith(".parquet"))._1.toDouble))(
        Sinks.appendNew(df, path, f.keys))(n => Map("rows_appended" -> n.toDouble))
    }

    /** One day: transform each flow, then load it into the lake (unless a
      * reload) and the warehouse. Returns rows appended per table. */
    def loadDay(d: Int, lakeWrite: Boolean): Map[String, Long] = {
      val stamp = java.sql.Timestamp.valueOf(days(d).atTime(18, 0))
      flows.map { f =>
        val (t, n) = f.name match {
          case "news" => transform("transforms.news")(
            Transforms.transformNews(raw("news", d), col("ingest_order")))
          case "posts" => transform("transforms.posts")(
            Transforms.transformPosts(raw("posts", d), col("ingest_order")))
          case _ => transform("transforms.bars")(Transforms.transformBars(raw("bars", d)))
        }
        try {
          val conformed = conform(f, t, stamp)
          if (lakeWrite) {
            val path = s"$lake/${f.name}"
            val before = if (c.tr.enabled) Files.stats(path, _ => true) else (0L, 0L)
            c.callWith("sinks.write_partitioned", Map.empty)(
              Sinks.writePartitioned(t, path, days(d).toString)) { _ =>
              val after = Files.stats(path, _ => true)
              Map("files_written" -> (after._1 - before._1).toDouble,
                "bytes_written_mb" -> (after._2 - before._2) / 1e6)
            }
          }
          f.table -> appendNew(f, conformed, n)
        } finally { t.unpersist(); () }
      }.toMap
    }

    (0 until nDays).foreach(d => c.step(loadDay(d, lakeWrite = true)))
    val reloaded = c.tr.span("bench.reload")(loadDay(0, lakeWrite = false))
    val recent = days.take(nDays).takeRight(lastPartitionsRead).map(_.toString)
    val lakeRead = c.read(c.tr.span("bench.read") {
      flows.map(f => f.name -> Workloads.contentHash(spark.read.parquet(s"$lake/${f.name}")
        .filter(col("ingestion_date").isin(recent: _*)))).toMap
    })

    Outcome(
      checks = () => {
        val exp = expectedKeys(spark, inDir)
        flows.flatMap { f =>
          // one job per table: distinct keys, rows, and the most rows on one key
          val k = spark.read.parquet(s"$wh/${f.table}").groupBy(f.keys.map(col): _*).count()
            .agg(count(lit(1)), sum(col("count")), max(col("count"))).head()
          val parts = Option(new java.io.File(s"$lake/${f.name}").list())
            .getOrElse(Array.empty[String]).count(_.startsWith("ingestion_date="))
          Seq(
            s"${f.table}: no duplicate keys" -> (k.getLong(2) == 1L),
            s"${f.table}: rows = distinct keys over all days" -> (k.getLong(1) == exp(f.table)),
            s"${f.table}: reload appends 0" -> (reloaded(f.table) == 0),
            s"lake ${f.name}: one partition per day" -> (parts == nDays))
        }
      },
      fingerprint = () => (flows.map(f => lakeRead(f.name)) ++
        flows.map(f => Workloads.contentHash(spark.read.parquet(s"$wh/${f.table}"))))
        .mkString(","))
  }
}

/** stream_ivm — out-of-order CDC folded into a maintained rollup. */
object StreamIvm extends Workload {
  val name = "stream_ivm"
  private val lateness = 365L * 24 * 3600

  def generate(seed: Long, dir: String): Map[String, Any] =
    Gen.stream(seed, dir)

  /** The exactly-once contract: the rollup equals a batch recomputation
    * of the whole change log (per-key latest change by (ts, seq); a
    * delete removes the key), written with plain Spark. */
  private val expected = scala.collection.mutable.Map.empty[String, Set[(Int, Long, Double)]]

  private def recompute(spark: SparkSession, inDir: String): Set[(Int, Long, Double)] =
    expected.getOrElseUpdate(inDir, {
      val snap = spark.read.parquet(s"$inDir/snapshot.parquet")
      val ch = spark.read.parquet(s"$inDir/changes.parquet")
      val latest = ch.withColumn("rn", row_number().over(
          Window.partitionBy("pos_id").orderBy(col("ts").desc, col("seq").desc)))
        .filter(col("rn") === 1)
        .select(col("pos_id"), col("op"), col("acct").as("c_acct"), col("qty").as("c_qty"))
      snap.join(latest, Seq("pos_id"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(when(col("op").isNull, col("acct")).otherwise(col("c_acct")).as("grp"),
          when(col("op").isNull, col("qty")).otherwise(col("c_qty")).as("v"))
        .groupBy("grp")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("v").cast("decimal(30,10)")).cast("double"), 4).as("vsum"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    })

  def iterate(c: Ctx): Outcome = {
    val (spark, inDir) = (c.spark, c.inDir)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val snapshot = c.table("snapshot")
    val changes = c.table("changes")
    val terminated = c.progress.terminatedCount
    c.progress.drain()
    // the fold wipes its own scratch first, so what is there after it
    // is what it wrote
    val rollup = c.callWith("streaming.fold", Map.empty) {
      Streaming.streamingIncrementalRollupOutOfOrder(c.spark, snapshot, changes,
        batchOf = col("arrival"), "pos_id", "ts", "seq", "op", Seq("acct", "qty"),
        group = col("acct"), value = col("qty"), maxLatenessSec = lateness)
    } { _ =>
      Map("files_written" -> Files.stats(tmp.getPath, _ => true)._1.toDouble)
    }
    c.progress.awaitTerminated(terminated + 1)
    val batches = c.progress.drain()
    c.steps ++= batches.map(_.getOrElse("triggerExecution", 0.0))
    val got = c.read(c.call("bucketed.read")(
      rollup.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet))
    if (c.tr.enabled) {
      def med(k: String) = Stats.median(batches.map(_.getOrElse(k, 0.0)))
      c.notes ++= Seq("streaming.fold.batches" -> batches.size.toDouble,
        "bucketed.read.files_read" -> rollup.inputFiles.length.toDouble,
        "bucketed.read.versions_on_disk" -> Files.versionDirs(tmp).toDouble,
        "streaming.batch.latest_offset_s" -> med("latestOffset"),
        "streaming.batch.get_batch_s" -> med("getBatch"),
        "streaming.batch.query_planning_s" -> med("queryPlanning"),
        "streaming.batch.add_batch_s" -> med("addBatch"),
        "streaming.batch.wal_commit_s" -> med("walCommit"),
        "streaming.batch.commit_offsets_s" -> med("commitOffsets"))
    }
    Outcome(
      checks = () => Seq(
        "rollup equals a batch recomputation of the change log" ->
          (got == recompute(spark, inDir)),
        s"one micro-batch per landed batch (${batches.size})" ->
          (batches.size == Gen.streamBatches)),
      fingerprint = () => got.toSeq.sorted.mkString(";").hashCode.toString)
  }
}

/** curate_corpus — LLM-data curation of a news corpus. */
object CurateCorpus extends Workload {
  val name = "curate_corpus"

  def generate(seed: Long, dir: String): Map[String, Any] =
    Gen.corpus(seed, dir)

  def iterate(c: Ctx): Outcome = {
    val corpus = c.table("corpus")
    val eval = c.table("eval")
    val index = s"${c.outDir}/neardup_index"
    val train = s"${c.outDir}/train"
    // the index covers what the near-dup stage probes: the gated,
    // exact-deduplicated corpus
    c.step(c.callWith("neardup.write_index", Map.empty) {
      val exact = Dedup.exactDedup(
        TextAnalysis.gopherGate(corpus, col("text"), 20, 100000, requireStopwords = false),
        md5(col("text")), Seq(col("doc_id")))
      NearDup.ensureNearDupIndex(exact, col("doc_id"), col("text"), 5, 8, index)
    }(_ => Map("bytes_written_mb" -> Files.stats(index, _ => true)._2 / 1e6)))
    val packed = c.step(c.callWith("corpus.curate",
        Map("rows_in" -> c.spark.read.parquet(s"${c.inDir}/corpus.parquet").count().toDouble)) {
      Corpus.curatePipeline(c.spark, corpus, eval, index, minWords = 20, maxWords = 100000,
        nNear = 5, kNear = 8, jaccThreshold = 0.5, nContam = 8, budget = 1500L,
        capacity = 512)
    }(df => Map("rows_out" -> df.count().toDouble)))
    c.tr.span("bench.write")(packed.write.mode("overwrite").parquet(train))
    val hash = c.read(c.tr.span("bench.read")(
      Workloads.contentHash(c.spark.read.parquet(train))))
    Outcome(
      checks = () => {
        val keys = c.spark.read.parquet(train).select("key")
        Seq(
          "curated output is not empty" -> (keys.count() > 0),
          "no exact copy survives exact dedup" ->
            (keys.filter(col("key") >= 1000000L && col("key") < 2000000L).count() == 0),
          "one packed row per surviving document" ->
            (keys.distinct().count() == keys.count()))
      },
      fingerprint = () => hash)
  }
}

/** graph_rank — PageRank family over a ticker-article co-mention graph. */
object GraphRank extends Workload {
  val name = "graph_rank"

  def generate(seed: Long, dir: String): Map[String, Any] =
    Gen.graph(seed, dir)

  private def symmetrize(m: DataFrame): DataFrame = {
    val e = m.select(col("article").as("src"), col("ticker").as("dst"))
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  private val damping = 0.15
  private val pprDamping = 0.85
  private val roundDp = 4

  /** Every round rounds each edge contribution to decimal(38,12), so one
    * round can move the rank mass by up to edges x 5e-13, and the
    * recurrence carries that error on with factor d: a fixed-iteration
    * run keeps its mass within edges x 5e-13 / (1 - d) of 1 (never
    * looser than 1e-9). */
  private def roundingTolerance(edges: Long, d: Double): Double =
    math.max(1e-9, edges * 5e-13 / (1 - d))

  /** The warm start returns ranks proven to lie within 0.45 x 10^-dp
    * (l1) of the fixpoint, whose mass is 1; its start vector does not
    * sum to 1 when the delta adds nodes. */
  private val warmTolerance = 0.45 * math.pow(10.0, -roundDp)

  def iterate(c: Ctx): Outcome = {
    val (spark, inDir) = (c.spark, c.inDir)
    val mentions = c.table("mentions")
    val delta = c.table("mentions_delta")
    val seeds = c.table("seeds")
    val out = s"${c.outDir}/ranks"
    val pr = c.step(c.call("graph.pagerank")(
      Graph.pageRank(symmetrize(mentions), iters = 3, damping = damping)))
    val ppr = c.step(c.call("graph.ppr")(
      Graph.personalizedPageRank(symmetrize(mentions), seeds, iters = 3, damping = pprDamping)))
    val warmStart = c.step(c.call("graph.warmstart")(
      Graph.pageRankWarmStart(symmetrize(mentions.unionByName(delta)), pr,
        maxIters = 20, damping = damping, roundDp = roundDp)))
    val ranks = Seq("pagerank" -> pr, "ppr" -> ppr, "warmstart" -> warmStart)
    c.tr.span("bench.write")(ranks.map { case (n, df) => df.withColumn("run", lit(n)) }
      .reduce(_.unionByName(_)).write.mode("overwrite").parquet(out))
    val read = c.read(c.tr.span("bench.read")(
      c.spark.read.parquet(out).groupBy("run").agg(sum(col("r")), count(lit(1)),
        sum(xxhash64(col("node"), col("r")).cast("decimal(38,0)"))).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), s"${r.getLong(2)}:${r.get(3)}")).toMap))
    Outcome(
      checks = () => {
        val edges = 2 * spark.read.parquet(s"$inDir/mentions.parquet").count()
        Seq("pagerank" -> roundingTolerance(edges, damping),
          "ppr" -> roundingTolerance(edges, pprDamping),
          "warmstart" -> warmTolerance).map { case (n, tol) =>
          s"$n ranks sum to 1 within $tol (sum ${read(n)._1})" ->
            (math.abs(read(n)._1 - 1.0) <= tol)
        }
      },
      fingerprint = () => ranks.map { case (n, _) => read(n)._2 }.mkString(","))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Files {
  /** (regular files, bytes) under `path` whose name passes `keep`. Files
    * Spark deletes during the walk (shuffle files the cleaner drops) are
    * skipped, not errors. */
  def stats(path: String, keep: String => Boolean): (Long, Long) = {
    var n = 0L; var b = 0L
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
        override def visitFile(f: java.nio.file.Path,
            a: java.nio.file.attribute.BasicFileAttributes): java.nio.file.FileVisitResult = {
          if (a.isRegularFile && keep(f.getFileName.toString)) { n += 1; b += a.size }
          java.nio.file.FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: java.nio.file.Path,
            e: java.io.IOException): java.nio.file.FileVisitResult =
          java.nio.file.FileVisitResult.CONTINUE
        override def postVisitDirectory(d: java.nio.file.Path,
            e: java.io.IOException): java.nio.file.FileVisitResult =
          java.nio.file.FileVisitResult.CONTINUE
      })
    (n, b)
  }

  def bytes(path: String): Long = stats(path, _ => true)._2

  /** Version directories of the program's bucket-versioned tables
    * (`v<id>` directories holding a `_buckets` manifest) under `root`. */
  def versionDirs(root: java.io.File): Long = {
    val kids = root.listFiles()
    if (kids == null) 0L
    else kids.filter(_.isDirectory).map { d =>
      val own = if (d.getName.matches("v\\d+") && new java.io.File(d, "_buckets").isFile) 1L else 0L
      own + versionDirs(d)
    }.sum
  }

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }
}
