package perfbench

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generator. Every input is built in memory from one
  * `SplittableRandom(seed)` stream per table and written to parquet once
  * per (workload, seed); the program only ever reads that parquet. The
  * same seed gives the same rows; sizes and skew are fixed per workload
  * and returned as a summary for the result. */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n (rank 0 is the hottest). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
    /** Share of draws that land on the hottest `k` ranks. */
    def topShare(k: Int): Double = cdf(math.min(k, n) - 1)
  }

  private val syllables = Array("ka", "lo", "mi", "ter", "san", "vel", "dor",
    "pha", "quin", "rus", "bel", "tor", "nex", "ari", "mon", "ste", "lun",
    "gra", "fel", "ost", "ven", "pli", "cor", "dan")

  /** A fixed pronounceable vocabulary: word i is spelled from the
    * base-24 digits of i + 24, so words are 2-4 syllables, letters only. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + syllables.length
    while (x > 0) { sb.append(syllables(x % syllables.length)); x /= syllables.length }
    sb.toString
  }

  private def rng(seed: Long, table: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + table.hashCode.toLong)

  /** Write rows as parquet straight through the parquet library (no
    * Spark job), one file per table or per value of `partitionBy`
    * (hive-style `name=value` directories, the column left out). */
  private def write(rows: Seq[Row], schema: StructType, path: String,
      partitionBy: Option[String] = None): Unit = partitionBy match {
    case None => Parquet.write(rows, schema, s"$path/part-00000.parquet")
    case Some(p) =>
      val i = schema.fieldIndex(p)
      val rest = StructType(schema.fields.patch(i, Nil, 1))
      rows.groupBy(_.get(i)).toSeq.sortBy(_._1.toString).foreach { case (v, rs) =>
        Parquet.write(rs.map(r => Row.fromSeq(r.toSeq.patch(i, Nil, 1))), rest,
          s"$path/$p=$v/part-00000.parquet")
      }
  }

  private def text(r: java.util.SplittableRandom, z: Zipf, n: Int): String =
    Iterator.fill(n)(word(z.sample(r))).mkString(" ")

  // ------------------------------------------------------------------
  // etl_daily: news, Reddit posts and minute bars for D trading days
  // ------------------------------------------------------------------

  val etlDays = 1
  val etlTickers = 40
  val etlNewsPerDay = 120
  val etlPostsPerDay = 120
  val etlRefetch = 0.2

  def tradingDays: Seq[LocalDate] =
    Iterator.iterate(LocalDate.of(2024, 1, 2))(_.plusDays(1))
      .filter(d => d.getDayOfWeek.getValue <= 5).take(etlDays).toSeq

  def ticker(i: Int): String = {
    val a = ('A' + i % 26).toChar
    val b = ('A' + (i / 26 + 7 * i) % 26).toChar
    val c = ('A' + (3 * i + 11) % 26).toChar
    s"$a$b$c"
  }

  val newsSchema: StructType = StructType(Seq(
    StructField("day", IntegerType),
    StructField("ingest_order", LongType),
    StructField("source", StructType(Seq(
      StructField("id", StringType), StructField("name", StringType)))),
    StructField("author", StringType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("url", StringType),
    StructField("urlToImage", StringType),
    StructField("publishedAt", StringType),
    StructField("content", StringType)))

  val postsSchema: StructType = StructType(Seq(
    StructField("day", IntegerType),
    StructField("ingest_order", LongType),
    StructField("reddit_id", StringType),
    StructField("subreddit", StringType),
    StructField("title", StringType),
    StructField("selftext", StringType),
    StructField("score", LongType),
    StructField("num_comments", LongType),
    StructField("is_text_post", BooleanType),
    StructField("url", StringType),
    StructField("link_flair_text", StringType),
    StructField("upvote_ratio", DoubleType),
    StructField("permalink", StringType),
    StructField("published_at", DoubleType),
    StructField("article_published_at", StringType),
    StructField("article_category", ArrayType(StringType)),
    StructField("article_headline", StringType)))

  val barsSchema: StructType = StructType(Seq(
    StructField("day", IntegerType),
    StructField("symbol", StringType),
    StructField("timestamp", StringType),
    StructField("open", StringType),
    StructField("high", StringType),
    StructField("low", StringType),
    StructField("close", StringType),
    StructField("vwap", StringType),
    StructField("volume", StringType),
    StructField("trade_count", StringType)))

  /** Stamp a news/posts row (columns 0 and 1) with its landing day and
    * its position in that day's fetch. */
  private def withDay(r: Row, day: Int, order: Long): Row =
    Row.fromSeq(Seq[Any](day, order) ++ r.toSeq.drop(2))

  /** Each day holds its fresh rows, ~4% same-day duplicates, and ~20%
    * of the previous day's fresh rows fetched again. */
  private def daily(r: java.util.SplittableRandom, days: Int,
      fresh: Int => Seq[Row]): Seq[Row] = {
    val out = ArrayBuffer.empty[Row]
    var prev: Seq[Row] = Nil
    (0 until days).foreach { d =>
      val f = fresh(d)
      val dups = f.filter(_ => r.nextDouble() < 0.04)
      val refetch = prev.filter(_ => r.nextDouble() < etlRefetch)
      val all = f ++ dups ++ refetch
      out ++= all.zipWithIndex.map { case (row, i) => withDay(row, d, i.toLong) }
      prev = f
    }
    out.toSeq
  }

  def etl(seed: Long, dir: String): Map[String, Any] = {
    val days = tradingDays
    val tz = new Zipf(etlTickers, 1.1)
    val vocab = new Zipf(3000, 1.05)
    val sources = Seq("Reuters", "Bloomberg", "MarketWatch", "CNBC", "Yahoo", "Benzinga")

    val rn = rng(seed, "news")
    val news = daily(rn, days.size, d => (0 until etlNewsPerDay).map { i =>
      val t = ticker(tz.sample(rn))
      val src = sources(rn.nextInt(sources.size))
      val dropAll = rn.nextDouble() < 0.03
      def maybe(p: Double, v: => String) = if (dropAll || rn.nextDouble() < p) null else v
      val hh = 8 + rn.nextInt(10)
      val mm = rn.nextInt(60)
      Row(0, 0L, Row(src.toLowerCase, src),
        if (rn.nextDouble() < 0.2) null else s"author_${rn.nextInt(50)}",
        maybe(0.08, s"$t ${text(rn, vocab, 6)}"),
        maybe(0.25, s"${text(rn, vocab, 14)}, says $t desk!"),
        s"https://news.example.com/$t/$d-$i",
        s"https://img.example.com/$d-$i.jpg",
        f"${days(d)} $hh%02d:$mm%02d:00",
        maybe(0.35, s"$t: ${text(rn, vocab, 40)} (see https://x.example/$i) #markets"))
    })

    val rp = rng(seed, "posts")
    val subs = Seq("wallstreetbets", "stocks", "investing", "options", "pennystocks")
    val subZ = new Zipf(subs.size, 1.3)
    val posts = daily(rp, days.size, d => (0 until etlPostsPerDay).map { i =>
      val t = ticker(tz.sample(rp))
      val rid = if (rp.nextDouble() < 0.02) null else s"t3_${d}x$i"
      val sub = subs(subZ.sample(rp))
      val isText = rp.nextDouble() < 0.6
      val apa =
        if (isText) null
        else { val u = rp.nextDouble()
          if (u < 0.08) "" else if (u < 0.12) null
          else f"${days(d)} ${7 + rp.nextInt(12)}%02d:${rp.nextInt(60)}%02d:00" }
      val epoch = days(d).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond +
        8 * 3600 + rp.nextInt(10 * 3600)
      Row(0, 0L, rid,
        if (rp.nextDouble() < 0.02) null else sub,
        s"$t ${text(rp, vocab, 8)}",
        if (isText && rp.nextDouble() >= 0.3) text(rp, vocab, 30) else null,
        if (rp.nextDouble() < 0.1) null else java.lang.Long.valueOf(rp.nextInt(5000).toLong),
        if (rp.nextDouble() < 0.1) null else java.lang.Long.valueOf(rp.nextInt(400).toLong),
        isText,
        if (isText) null else s"https://news.example.com/$t/$d-${rp.nextInt(etlNewsPerDay)}",
        if (rp.nextDouble() < 0.15) null else s"flair${rp.nextInt(4)}",
        if (rp.nextDouble() < 0.05) null else java.lang.Double.valueOf(0.5 + rp.nextInt(50) / 100.0),
        s"/r/$sub/comments/${d}x$i",
        epoch.toDouble,
        apa,
        if (rp.nextDouble() < 0.1) Seq("news", "markets") else Seq("finance"),
        if (rp.nextDouble() < 0.1) null else s"$t headline")
    })

    // minute bars: hot tickers trade every minute, cold ones rarely; the
    // first bar of a ticker-day always carries valid prices, later ones
    // carry nulls and junk strings for ffill/bfill to repair
    val rb = rng(seed, "bars")
    val barRows = ArrayBuffer.empty[Row]
    val px = Array.tabulate(etlTickers)(_ => 20.0 + rb.nextInt(400))
    var prevBars: Seq[Row] = Nil
    days.indices.foreach { d =>
      val fresh = ArrayBuffer.empty[Row]
      (0 until etlTickers).foreach { k =>
        val n = math.max(3, (60 * math.pow(k + 1.0, -0.8)).toInt)
        val minutes = (0 until 390).filter(_ => rb.nextInt(390) < n * 2).take(n)
        minutes.zipWithIndex.foreach { case (m, j) =>
          px(k) = math.max(1.0, px(k) * (1 + (rb.nextDouble() - 0.5) * 0.01))
          def p(x: Double) = {
            val u = rb.nextDouble()
            if (j == 0) f"$x%.4f" else if (u < 0.07) null
            else if (u < 0.1) "junk" else f"$x%.4f"
          }
          val c = px(k)
          fresh += Row(0, ticker(k), f"${days(d)} ${9 + (30 + m) / 60}%02d:${(30 + m) % 60}%02d:00",
            p(c * 0.999), p(c * 1.004), p(c * 0.995), p(c), p(c * 1.001),
            if (rb.nextDouble() < 0.06) null else (100 + rb.nextInt(9000)).toString,
            if (rb.nextDouble() < 0.04) "x" else rb.nextInt(200).toString)
        }
      }
      val refetch = prevBars.filter(_ => rb.nextDouble() < etlRefetch)
      barRows ++= (fresh ++ refetch).map { row =>
        val v = row.toSeq.toArray; v(0) = d; Row.fromSeq(v.toSeq) }
      prevBars = fresh.toSeq
    }

    write(news, newsSchema, s"$dir/news.parquet", Some("day"))
    write(posts, postsSchema, s"$dir/posts.parquet", Some("day"))
    write(barRows.toSeq, barsSchema, s"$dir/bars.parquet", Some("day"))
    Map("days" -> days.size, "tickers" -> etlTickers,
      "ticker_zipf_s" -> 1.1, "hot5_share" -> tz.topShare(5),
      "news_rows" -> news.size, "posts_rows" -> posts.size,
      "bars_rows" -> barRows.size, "refetch_frac" -> etlRefetch)
  }

  // ------------------------------------------------------------------
  // stream_ivm: a position snapshot and an out-of-order CDC feed
  // ------------------------------------------------------------------

  val streamKeys = 20000
  val streamChanges = 1000
  val streamBatches = 2
  val streamAccounts = 200
  val streamLateFrac = 0.3

  val snapshotSchema: StructType = StructType(Seq(
    StructField("pos_id", LongType),
    StructField("acct", IntegerType),
    StructField("qty", DecimalType(18, 2))))

  val changeSchema: StructType = StructType(Seq(
    StructField("pos_id", LongType),
    StructField("ts", TimestampType),
    StructField("seq", LongType),
    StructField("op", StringType),
    StructField("acct", IntegerType),
    StructField("qty", DecimalType(18, 2)),
    StructField("arrival", IntegerType)))

  private def qty(r: java.util.SplittableRandom): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(r.nextLong(-500000L, 5000000L), 2)

  def stream(seed: Long, dir: String): Map[String, Any] = {
    val r = rng(seed, "stream")
    val acctZ = new Zipf(streamAccounts, 0.9)
    val snap = (1 to streamKeys).map(k =>
      Row(k.toLong, acctZ.sample(r), qty(r)))
    val hot = new Zipf(streamKeys, 1.0)
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:30:00").getTime
    var nextKey = streamKeys.toLong
    var late = 0
    val changes = (0 until streamChanges).map { j =>
      val u = r.nextDouble()
      val (op, key) =
        if (u < 0.15) { nextKey += 1; ("I", nextKey) }
        else if (u < 0.27) ("D", (hot.sample(r) + 1).toLong)
        else ("U", (hot.sample(r) + 1).toLong)
      val inOrder = j * streamBatches / streamChanges
      val arrival =
        if (r.nextDouble() < streamLateFrac && inOrder < streamBatches - 1) {
          late += 1
          math.min(streamBatches - 1, inOrder + 1 + r.nextInt(2))
        } else inOrder
      Row(key, new java.sql.Timestamp(t0 + j * 7000L + r.nextInt(5000)),
        (j + 1).toLong, op, acctZ.sample(r), qty(r), arrival)
    }
    write(snap, snapshotSchema, s"$dir/snapshot.parquet")
    write(changes, changeSchema, s"$dir/changes.parquet")
    Map("snapshot_rows" -> snap.size, "change_rows" -> changes.size,
      "batches" -> streamBatches, "late_frac" -> late.toDouble / changes.size,
      "hot_key_zipf_s" -> 1.0, "hot100_share" -> hot.topShare(100),
      "ops" -> changes.groupBy(_.getString(3)).map { case (k, v) => k -> v.size })
  }

  // ------------------------------------------------------------------
  // curate_corpus: Zipf-vocabulary news corpus with copies and an eval split
  // ------------------------------------------------------------------

  val corpusBase = 700
  val corpusExactFrac = 0.3
  val corpusNearFrac = 0.2
  val corpusEval = 60

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  val evalSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  def corpus(seed: Long, dir: String): Map[String, Any] = {
    val r = rng(seed, "corpus")
    val vocab = new Zipf(6000, 1.05)
    val langs = Seq("en", "en", "en", "de", "de", "fr")
    val srcZ = new Zipf(8, 1.2)
    val base = (1 to corpusBase).map { i =>
      // 5% are too short for the quality gate
      val n = if (r.nextDouble() < 0.05) 5 + r.nextInt(10) else 40 + r.nextInt(120)
      Row(i.toLong, text(r, vocab, n), langs(r.nextInt(langs.size)),
        s"src${srcZ.sample(r)}")
    }
    val exact = base.filter(_ => r.nextDouble() < corpusExactFrac).map(b =>
      Row(b.getLong(0) + 1000000L, b.getString(1), b.getString(2), b.getString(3)))
    val near = base.filter(_ => r.nextDouble() < corpusNearFrac).map { b =>
      val ws = b.getString(1).split(" ")
      val t =
        if (r.nextBoolean()) ws.take(math.max(1, ws.length * 9 / 10)).mkString(" ")
        else {
          val v = ws.clone()
          (0 until 1 + r.nextInt(3)).foreach(_ => v(r.nextInt(v.length)) = word(vocab.sample(r)))
          v.mkString(" ")
        }
      Row(b.getLong(0) + 2000000L, t, b.getString(2), b.getString(3))
    }
    // half the eval split quotes a 25-word passage of a training doc
    val eval = (1 to corpusEval).map { i =>
      val t =
        if (i % 2 == 0) {
          val ws = base(r.nextInt(base.size)).getString(1).split(" ")
          val from = r.nextInt(math.max(1, ws.length - 25))
          (ws.slice(from, from + 25) ++ Array.fill(10)(word(vocab.sample(r)))).mkString(" ")
        } else text(r, vocab, 40)
      Row(9000000L + i, t)
    }
    val docs = base ++ exact ++ near
    write(docs, docSchema, s"$dir/corpus.parquet")
    write(eval, evalSchema, s"$dir/eval.parquet")
    Map("docs" -> docs.size, "base_docs" -> base.size, "exact_copies" -> exact.size,
      "near_dups" -> near.size, "eval_docs" -> eval.size,
      "vocab" -> 6000, "vocab_zipf_s" -> 1.05)
  }

  // ------------------------------------------------------------------
  // graph_rank: ticker-article co-mention graph with hub tickers
  // ------------------------------------------------------------------

  val graphTickers = 100
  val graphArticles = 1200
  val graphSeeds = 50
  val graphDeltaFrac = 0.05

  val mentionSchema: StructType = StructType(Seq(
    StructField("article", StringType),
    StructField("ticker", StringType)))

  val seedSchema: StructType = StructType(Seq(StructField("node", StringType)))

  /** The graph's shape is the same for every seed and the seed only
    * renames its nodes: the warm start's round count depends on how
    * close ranks fall to a rounding boundary, so a seed-dependent shape
    * would make the work itself vary from seed to seed. */
  def graph(seed: Long, dir: String): Map[String, Any] = {
    val r = rng(0, "graph")
    val names = rng(seed, "graph-names")
    def shuffled(n: Int): Array[Int] = {
      val a = Array.tabulate(n)(identity)
      (n - 1 to 1 by -1).foreach { i =>
        val j = names.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val tickerIds = shuffled(graphTickers)
    val articleIds = shuffled(graphArticles + graphArticles / 10 + 1)
    val tz = new Zipf(graphTickers, 1.2)
    def tick(i: Int) = { val k = tickerIds(i); s"t:${ticker(k)}${k / 26}" }
    def art(i: Int) = s"a:${articleIds(i)}"
    def mentions(a: String): Seq[Row] =
      Seq.fill(1 + r.nextInt(4))(tz.sample(r)).distinct.map(t => Row(a, tick(t)))
    val base = (0 until graphArticles).flatMap(i => mentions(art(i)))
    val have = base.map(x => (x.getString(0), x.getString(1))).toSet
    val nDelta = (base.size * graphDeltaFrac).toInt
    // the delta: new articles and new mentions on existing articles
    val delta = Iterator.continually {
      if (r.nextBoolean()) mentions(art(graphArticles + r.nextInt(graphArticles / 10)))
      else Seq(Row(art(r.nextInt(graphArticles)), tick(tz.sample(r))))
    }.flatten.filter(x => !have.contains((x.getString(0), x.getString(1))))
      .distinct.take(nDelta).toSeq
    val seeds = r.ints(0, graphTickers).distinct().limit(graphSeeds.toLong)
      .toArray.toSeq.map(i => Row(tick(i)))
    write(base, mentionSchema, s"$dir/mentions.parquet")
    write(delta, mentionSchema, s"$dir/mentions_delta.parquet")
    write(seeds, seedSchema, s"$dir/seeds.parquet")
    val deg = base.groupBy(_.getString(1)).map(_._2.size)
    Map("tickers" -> graphTickers, "articles" -> graphArticles,
      "mentions" -> base.size, "delta_mentions" -> delta.size,
      "seeds" -> seeds.size, "max_ticker_degree" -> deg.max,
      "ticker_zipf_s" -> 1.2)
  }
}

/** The few parquet types the generator needs, mapped onto the parquet
  * library's example writer in the layout Spark reads back. */
object Parquet {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetFileWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.schema.MessageTypeParser

  private def field(f: StructField): String = f.dataType match {
    case IntegerType => s"optional int32 ${f.name};"
    case LongType => s"optional int64 ${f.name};"
    case DoubleType => s"optional double ${f.name};"
    case BooleanType => s"optional boolean ${f.name};"
    case StringType => s"optional binary ${f.name} (STRING);"
    case d: DecimalType if d.precision <= 18 =>
      s"optional int64 ${f.name} (DECIMAL(${d.precision},${d.scale}));"
    case TimestampType => s"optional int64 ${f.name} (TIMESTAMP(MICROS,true));"
    case st: StructType => s"optional group ${f.name} { ${st.fields.map(field).mkString(" ")} }"
    case ArrayType(StringType, _) =>
      s"optional group ${f.name} (LIST) { repeated group list { optional binary element (STRING); } }"
    case t => throw new IllegalArgumentException(s"no parquet mapping for $t")
  }

  private def fill(g: Group, schema: StructType, row: Row): Unit =
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) (f.dataType, row.get(i)) match {
        case (IntegerType, v: Int) => g.append(f.name, v)
        case (LongType, v: Long) => g.append(f.name, v)
        case (DoubleType, v: Double) => g.append(f.name, v)
        case (BooleanType, v: Boolean) => g.append(f.name, v)
        case (StringType, v: String) => g.append(f.name, v)
        case (_: DecimalType, v: java.math.BigDecimal) =>
          g.append(f.name, v.unscaledValue.longValueExact)
        case (TimestampType, v: java.sql.Timestamp) =>
          val t = v.toInstant
          g.append(f.name, t.getEpochSecond * 1000000L + t.getNano / 1000)
        case (st: StructType, v: Row) => fill(g.addGroup(f.name), st, v)
        case (ArrayType(StringType, _), v: Seq[_]) =>
          val l = g.addGroup(f.name)
          v.foreach(e => l.addGroup("list").append("element", e.toString))
        case (t, v) => throw new IllegalArgumentException(s"cannot write $v as $t")
      }
    }

  def write(rows: Seq[Row], schema: StructType, file: String): Unit = {
    val mt = MessageTypeParser.parseMessageType(
      s"message spark_schema { ${schema.fields.map(field).mkString(" ")} }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(mt).withConf(new org.apache.hadoop.conf.Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(mt)
    try rows.foreach { r => val g = groups.newGroup(); fill(g, schema, r); w.write(g) }
    finally w.close()
  }
}
