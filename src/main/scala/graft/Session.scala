package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe and between-query storage sweep that the
  * suite-driving mains (graft.Bench, graft.Verify,
  * graft.CurateCapstone) share, so every main runs queries under the
  * same execution shape and frees their storage the same way.
  */
object Session {

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time, AQE on, and the UI off. */
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // round-1–4 testdata stores events.ts as TIMESTAMP(NANOS); read it
      // as Long (normalized by Sources) instead of PARQUET_TYPE_ILLEGAL
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("graft.stream.shufflePartitions", "8")
      // Round-15 (verdict #1, the 32-core anti-scaling): with
      // shuffle.partitions = cpus every SQL exchange sits under the
      // bypassMergeThreshold default (200), so the bypass writer opened
      // R files PER MAP TASK (32×32 = 1024 file ops per exchange) — a
      // kernel-VFS CPU storm from 32 concurrent tiny tasks that made
      // the 8-core suite beat the 32-core suite outright (measured
      // -53% CPU / -29% wall on the worst family with the serialized
      // writer; docs/r15/). 8 = the stream shuffle-partition count:
      // batch exchanges (≥ cpus reducers) use the serialized sort
      // writer — one spill file + index per map task, what Spark
      // already uses for every >200-partition shuffle at production
      // scale — while the 8-reducer micro-batch shuffles keep the
      // bypass fast path (A/B: stream family 63.4 s at 0 vs 56.5 s
      // at 8; docs/r15/stream_iso_32_t{0,8}.log). A shuffle writer
      // cannot change rows, so Verify runs the same shape the bench
      // measures.
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Deterministic between-query storage sweep. `bcBaseline` is the
    * [[graft.operators.Eager.broadcastSnapshot]] taken once the session
    * is set up: broadcasts resident then are session infrastructure,
    * never swept; everything above it was created by a completed query.
    * Assumes the single-query-at-a-time loop of the mains: between
    * queries NOTHING is legitimately persisted or readable again.
    *
    * clearCache drops table caches but is blind to localCheckpoint
    * blocks (terminal results, any round frames an operator failed to
    * release), which otherwise wait for a driver GC to let the
    * ContextCleaner run — demonstrably too late 150 queries into a
    * suite (round-6 driver medians for the checkpoint-heavy family
    * inflated 3.5–4.8× vs isolated runs while System.gc() alone was in
    * place). So every surviving RDD is unpersisted by handle —
    * synchronous map removal, no GC required. Round 7's residual
    * driver-only inflation moved the same mechanism to BROADCAST blocks
    * (one per broadcast join, GC+ContextCleaner reclaimed), so the
    * sweep destroys those by id too. ...and shuffle state (round 9):
    * each completed wide stage leaves map-output files on local disk
    * plus driver-side ShuffleStatus, reclaimed only via GC +
    * ContextCleaner — swept by id for the same reason.
    */
  def sweep(spark: SparkSession, bcBaseline: Set[Long]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    graft.operators.Eager
      .releaseBroadcastsSince(spark, bcBaseline, force = true)
    val sc = spark.sparkContext
    org.apache.spark.graft.Storage.shuffleIds(sc)
      .foreach(id =>
        org.apache.spark.graft.Storage.removeShuffle(sc, id, blocking = false))
  }
}
