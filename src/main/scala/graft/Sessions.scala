package graft

import org.apache.spark.sql.SparkSession

/** The one session factory (SessionsSpec fails if a session is built
  * anywhere else): UTC-pinned, AQE on, shuffle partitions sized for the
  * local core count instead of the 200 default (the one local-mode knob
  * that matters; on a real cluster this comes from the submitter).
  * graft's SQL functions and the as-of join strategy are injected at
  * build time through `GraftExtensions`, so no operator has to register
  * anything on a live session.
  */
object Sessions {
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE coalesce CACHED plans' output partitions too (off by
      // default): every shared .cache() base here (partEdges, the
      // embeddings base, term-count tables) otherwise pins the full
      // shuffle-partition count forever, and each later scan pays the
      // per-task floor times that count regardless of cached bytes.
      // Scale-adaptive by construction — AQE sizes partitions by bytes,
      // so a 100 TB cached frame keeps its parallelism (measured here:
      // warm partEdges scans 2x faster, degree re-agg 2.2x).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts ships as parquet TIMESTAMP(NANOS) in some lake
      // generations, which the vectorized reader rejects; read it as raw
      // nanos and let core.Tables.normTs convert (see Tables.apply)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // shuffle files on the fastest local scratch (tmpfs when present;
      // see core.Scratch.sparkLocalDir) — transient by definition
      .config("spark.local.dir", graft.core.Scratch.sparkLocalDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
