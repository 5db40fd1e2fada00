package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for graft workloads.
  *
  * Local defaults mirror what a cluster deployment would set per executor
  * count: shuffle partitions sized to cores (not the 200 default), AQE on
  * (runtime coalescing + skew-join splitting), graft SQL functions
  * registered via extensions.
  */
object GraftSession {
  /** Local cores for the mains: `SPARK_GRAFT_CPUS` when set, else every
    * processor the JVM sees. */
  val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores,
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // spill-aware scan sizing: 128 MB input splits keep per-task state far
      // below executor memory at any SF (tune with executor heap on cluster)
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      // Cols.boundedWindow partitions known-bounded summary windows by a
      // CONSTANT so WindowExec's single-partition execution is declared
      // intent rather than the "No Partition Defined" warning (which
      // assumes corpus-sized input and drowned real signal in the r9 bench
      // log). Spark 4's EliminateWindowPartitions folds that constant away
      // again, resurrecting the warning — exclude it; the rule is a pure
      // cosmetic simplification (both forms execute as one partition).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
      // Runtime bloom-filter injection (InjectRuntimeFilter) is the engine's
      // probe-side pruning for fact-to-fact semi joins (ev_bloom_join shape).
      // Spark's default creation-side threshold (10 MB) silently drops the
      // injection once the SELECTIVE side's scan estimate crosses it —
      // PlanSpec observes the flip at the 10×-of-sf0.01 corpus (~22 MB
      // estimate). At the 100 TB target the selective side of "all events of
      // users who errored" is GBs, and the one extra agg that builds the
      // filter is noise next to the probe-side scan it prunes — size the
      // threshold to the deployment's selective-side estimates (VERDICT r10
      // #5). Inert locally for default confs (the 10 GB application-side
      // threshold gates injection anyway); asserted under production-shaped
      // confs in PlanSpec.
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "512MB")
      // BloomFilterAggregate Math.min's its geometry against these caps at
      // eval — the C113 store build (TextHashExpressions.bloomAgg) refuses
      // requests above them rather than let the filter silently shrink.
      // 2^26 items / 2^31 bits ≈ the 256 MB single-filter practical
      // ceiling; shard the key space above it. Injected runtime filters
      // keep their own (much smaller) default sizing — these are maxima,
      // not defaults.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
        (1L << 26).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (1L << 31).toString)
      // every keyed stateful operator (graft.streaming.StepProcessor) keeps
      // its state in column families, which only RocksDB provides
      .config("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.StepProcessor.RocksDbProvider)
      // streaming checkpoints write through the `file:` FileContext; this one
      // sets permissions and checks for symlinks without starting processes
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.streaming.NioLocalFs].getName)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    extraConf.foreach { case (k, v) => b = b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // getOrCreate may have returned a pre-existing session — make sure the
    // native functions are registered either way
    GraftFunctions.register(s)
    s
  }
}
