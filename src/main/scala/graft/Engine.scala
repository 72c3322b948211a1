package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local runs use `local[N]` with N shuffle partitions (not the 200
  * default — wrong for a single JVM). On a real cluster the same
  * settings scale: AQE coalesces shuffle partitions at runtime, so the
  * static number only sets an upper bound.
  */
object Engine {
  /** Configs every graft session needs, applied to a builder.
    * `SPARK_GRAFT_CONF="k=v;k2=v2"` appends ad-hoc overrides — a
    * tuning knob for experiments without code edits. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    val configured = b
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // testdata events.parquet stores TIMESTAMP(NANOS); read as long and
      // convert (Tables.events) — Spark has no native ns timestamp type.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the 87-query probe suite generates far more codegen classes
      // than the default 100-entry cache; at 100 the suite evicts its
      // own classes mid-run and queries recompile (static conf — must
      // be set before the first session in the JVM)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // the top_k_struct bounded-heap aggregates (batch ANN joins,
      // grouped top-k) run under ObjectHashAggregate, whose default
      // in-memory hash map caps at 128 groups per partition before
      // falling back to sort-based aggregation — a per-partition SORT
      // of the candidate rows. Query batches routinely carry
      // thousands of groups per partition, so raise the cap — but the
      // conf is session-global (it also governs collect_list etc.),
      // so size it by the LARGEST heap state the engine ships: the
      // IVF-PQ shortlist heaps hold ≈200·k ≈ 2k slim (score,id)
      // entries, and 16k resident groups × 2k entries ≈ 32M entries
      // ≈ a few hundred MB per partition — the most that should sit
      // un-spillable in one task. Typical k≈10 heaps are 3 orders
      // smaller; past 16k groups the sort fallback is the spillable
      // right answer. Override via SPARK_GRAFT_CONF for exotic loads.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "16384")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(configured) { (acc, kv) =>
        val Array(k, v) = kv.split("=", 2)
        acc.config(k, v)
      }
  }

  /** Cores for the command-line mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
