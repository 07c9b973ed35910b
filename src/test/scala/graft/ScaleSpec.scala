package graft

import org.apache.spark.sql.functions._
import graft.ops.Scale
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin produces identical results to a plain join") {
    val li = Tables.lineitem(spark, Sf0001)
    val part = Tables.part(spark, Sf0001)
    val plain = li.join(part, li("l_partkey") === part("p_partkey"))
      .groupBy($"p_brand").agg(count(lit(1)).as("n"))
    val renamedPart = part.withColumnRenamed("p_partkey", "l_partkey")
    val salted = Scale.saltedJoin(li, renamedPart, "l_partkey")
      .groupBy($"p_brand").agg(count(lit(1)).as("n"))
    val a = plain.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = salted.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("saltedJoin left variant keeps unmatched rows exactly once") {
    val large = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val small = Seq((1L, "x")).toDF("k", "w")
    val out = Scale.saltedJoin(large, small, "k", buckets = 4, joinType = "left")
    assert(out.count() === 3)
    assert(out.filter($"w".isNotNull).count() === 1)
  }

  test("saltedJoin rejects outer join types that would duplicate small-side rows") {
    val large = Seq((1L, "a")).toDF("k", "v")
    val small = Seq((1L, "x"), (2L, "y")).toDF("k", "w")
    val e = intercept[IllegalArgumentException] {
      Scale.saltedJoin(large, small, "k", buckets = 4, joinType = "full")
    }
    assert(e.getMessage.contains("inner/left"))
  }

  test("keySkewProfile ranks heavy keys with shares summing <= 1") {
    val prof = Scale.keySkewProfile(Tables.lineitem(spark, Sf0001), "l_suppkey", 5)
      .collect()
    assert(prof.length === 5)
    val shares = prof.map(_.getDouble(2))
    assert(shares.sameElements(shares.sorted.reverse))
    assert(shares.sum <= 1.0)
  }

  test("writeBucketed makes same-key aggregation shuffle-free") {
    val path = java.nio.file.Files.createTempDirectory("graft_bucket_").toString
    Scale.writeBucketed(Tables.orders(spark, Sf0001), "graft_orders_bucketed",
      "o_custkey", 4, s"$path/orders")
    val agg = spark.table("graft_orders_bucketed")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
    agg.collect()
    // bucketed scan already provides hashpartitioning(o_custkey) → the
    // aggregation needs no Exchange
    assert(PlanTree.exchanges(agg).isEmpty, PlanTree.exchanges(agg).toString)
    // and the unbucketed equivalent DOES shuffle, proving the contrast
    val unbucketed = Tables.orders(spark, Sf0001)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
    unbucketed.collect()
    assert(PlanTree.exchangesOn(unbucketed, "o_custkey").nonEmpty)
  }

  test("bucketed fingerprint anti-join runs with zero Exchange (incremental dedup shape)") {
    // SCALE.md's claim, plan-asserted: bucket corpus and incoming by
    // the content fingerprint once at write time and the dd07-shaped
    // incremental anti-join needs no shuffle at read time — both scans
    // already provide hashpartitioning(fp). Broadcast is disabled so
    // the assertion proves co-partitioning, not a small-side shortcut.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val withFp = Tables.documents(spark, Sf0001)
        .select($"doc_id", graft.text.TextStats.fingerprint($"text").as("fp"))
      val path = java.nio.file.Files.createTempDirectory("graft_bucket_join_").toString
      Scale.writeBucketed(withFp.filter($"doc_id" < 400), "graft_corpus_fp",
        "fp", 4, s"$path/corpus")
      Scale.writeBucketed(withFp.filter($"doc_id" >= 400), "graft_incoming_fp",
        "fp", 4, s"$path/incoming")
      val novel = spark.table("graft_incoming_fp")
        .join(spark.table("graft_corpus_fp"), Seq("fp"), "left_anti")
      val got = novel.select($"doc_id").collect().map(_.getLong(0)).sorted
      assert(PlanTree.exchanges(novel).isEmpty, PlanTree.exchanges(novel).toString)
      // and the same join answers correctly (parity with unbucketed)
      val expected = withFp.filter($"doc_id" >= 400)
        .join(withFp.filter($"doc_id" < 400), Seq("fp"), "left_anti")
        .select($"doc_id").collect().map(_.getLong(0)).sorted
      assert(got === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sortedForPruning yields requested partitioning and sorted output") {
    val df = Scale.sortedForPruning(Tables.orders(spark, Sf0001), Seq("o_orderdate"), 4)
    assert(df.rdd.getNumPartitions === 4)
    // parquet timestamps surface as TIMESTAMP_NTZ (LocalDateTime) —
    // compare via ISO strings, which sort chronologically
    val perPart = df.select($"o_orderdate".cast("string")).rdd
      .mapPartitions(it => Iterator(it.map(_.getString(0)).toSeq))
      .collect()
    perPart.foreach(p => assert(p === p.sorted, "partition not sorted"))
  }

  test("runtime bloom-filter pruning injects on a selective fact-fact join") {
    // The 100 TB story for fact⋈fact joins where one side carries a
    // selective filter: Catalyst's InjectRuntimeFilter plants a
    // bloom_filter_agg on the filtered side and a might_contain probe
    // on the scan of the big side, pruning shuffle input at runtime.
    val s = spark
    import org.apache.spark.sql.functions._
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        s.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        s.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        s.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        s.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
    try {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      // sf0.001 scans are far below the 10GB production default — the
      // threshold exists to skip tiny scans, which is exactly our fixture
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // force a shuffle join so the runtime filter is the only pruning path
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(s, Sf0001)
      val o = Tables.orders(s, Sf0001).filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q"))
      // a might_contain probe in the plan, fed by a bloom_filter_agg
      // in its subquery
      val optimized = joined.queryExecution.optimizedPlan
      def has(p: LogicalPlan, cls: Class[_]) =
        p.expressions.exists(_.find(cls.isInstance).isDefined)
      assert(optimized.exists(has(_, classOf[BloomFilterMightContain])) &&
        optimized.collectWithSubqueries { case p => p }
          .exists(has(_, classOf[BloomFilterAggregate])),
        s"expected a runtime bloom filter in the optimized plan:\n$optimized")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("coalesce narrows without a shuffle; repartition exchanges") {
    import org.apache.spark.sql.functions.col
    val base = Tables.lineitem(spark, Sf0001).filter(col("l_quantity") > 0)
    val coalesced = PlanTree.exchanges(base.coalesce(1))
    assert(coalesced.isEmpty, s"coalesce must not shuffle: $coalesced")
    val repartitioned = PlanTree.exchanges(base.repartition(8))
    assert(repartitioned.exists(_.outputPartitioning.numPartitions == 8),
      s"repartition must shuffle: $repartitioned")
  }

  test("AQE coalesces post-shuffle partitions on small exchanges") {
    val s = spark
    import org.apache.spark.sql.functions.{col, sum}
    val prev = s.conf.getOption("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "true")
      val df = Tables.lineitem(s, Sf0001)
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
      df.collect() // materialize so the adaptive plan is final
      val reads = PlanTree.nodes(df).collect { case r: AQEShuffleReadExec => r }
      assert(reads.exists(_.hasCoalescedPartition),
        s"adaptive shuffle read (partition coalescing) expected: ${PlanTree.nodes(df)}")
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.adaptive.enabled", v)
      case None => s.conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
