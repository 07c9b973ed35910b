package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.IsNotNull
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.prop.TableDrivenPropertyChecks
import graft.queries.Catalog

/** Edge-semantics tests called out in SURVEY.md §5: NULL explode drop
  * (F2), size-of-null (F4), bucket boundaries (P7), plus smoke over
  * every catalog query at sf0.001.
  */
class RelationalSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  test("explode(split(NULL)) yields zero rows — titles with NULL csv drop out (F2)") {
    val df = Seq(("a", "x,y"), ("b", null)).toDF("id", "csv")
    val exploded = df.select($"id", explode(split($"csv", ","))).collect()
    assert(exploded.map(_.getString(0)).toSet === Set("a"))
    assert(exploded.length === 2)
  }

  test("size(split(NULL)) is NULL in Spark 4 (F4; legacy -1 retired)") {
    val df = Seq(("a", "x,y,z"), ("b", null)).toDF("id", "csv")
    val rows = df.select($"id", size(split($"csv", ",")).as("n")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(rows("a") === Some(3))
    assert(rows("b") === None) // spark.sql.legacy.sizeOfNull=false since 3.0
  }

  test("quantity buckets are total over the domain and hit boundaries (P7)") {
    val df = Seq(0.0, 9.99, 10.0, 25.0, 25.01, 40.0, 40.01, 1e9).toDF("q")
    val got = df.select(
      when($"q" < 10, 0).when($"q" <= 25, 1).when($"q" <= 40, 2).otherwise(3).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(0, 0, 1, 1, 2, 2, 3, 3))
  }

  test("rlike alternation has prefix false-positives; exploded semi-join does not (P6)") {
    // The reference's regex membership (data_processing.py:295) matches
    // nm123 inside nm1234 — the documented anti-pattern (SURVEY.md §4.3).
    val df = Seq(("t1", "nm1234"), ("t2", "nm123")).toDF("id", "ids")
    val faithful = df.filter($"ids".rlike(Seq("nm123").mkString("|")))
    assert(faithful.count() === 2) // false positive on nm1234
    val correct = df.select($"id", explode(split($"ids", ",")).as("m"))
      .join(Seq("nm123").toDF("m"), Seq("m"), "left_semi")
    assert(correct.count() === 1)
  }

  test("all catalog queries return rows at sf0.001 (t1 smoke)") {
    graft.queries.Catalog.all.foreach { q =>
      val n = q.fn(spark, Sf0001).count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("entry returns rows (driver contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql only names declared queries") {
    val undeclared = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(undeclared.isEmpty)
  }

  test("catalog has no duplicate query names (a dup would silently shadow in the Map)") {
    val names = graft.queries.Catalog.all.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === names.size)
  }

  test("q59 star join: dims broadcast, order-date filter pushed, lineitem scan pruned") {
    val df = Catalog.queries("q59_tpch_q5")(spark, Sf0001)
    assert(PlanTree.joins(df).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "dimension joins should broadcast")
    val scans = PlanTree.scans(df)
    assert(scans.exists(_.dataFilters.exists {
        case _: IsNotNull => false
        case f => f.references.exists(_.name == "o_orderdate")
      }), "order-date range filter should reach the orders parquet scan")
    val lineitemSchemas = scans.map(_.requiredSchema.fieldNames.toSet)
      .filter(_.contains("l_extendedprice"))
    assert(lineitemSchemas ==
      Seq(Set("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")),
      s"lineitem scan should read only the 4 needed columns, got: $lineitemSchemas")
  }

  test("q01 pricing summary: shipdate filter pushed, partial aggregation present") {
    val df = Catalog.queries("q01_pricing_summary")(spark, Sf0001)
    assert(PlanTree.scans(df).exists(_.dataFilters.exists {
        case _: IsNotNull => false
        case f => f.references.exists(_.name == "l_shipdate")
      }), "shipdate filter should reach the lineitem scan")
    // partial + final pair → map-side combine before the exchange
    val aggs = PlanTree.nodes(df).collect { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, s"expected partial and final hash aggregates, found ${aggs.size}")
  }

  test("q58 hash sample keeps sampling as a scan-adjacent filter, no shuffle") {
    val exchanges = PlanTree.exchanges(Catalog.queries("q58_hash_sample")(spark, Sf0001))
    // deterministic sampling must not repartition the table: the only
    // exchange allowed is the final order-by's range partitioning
    assert(exchanges.size <= 1 && exchanges.forall(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      s"sampling should add no shuffles, found: $exchanges")
  }

  test("q91 bloom probe joins the 2048-word filter by broadcast") {
    val df = Catalog.queries("q91_bloom_filter")(spark, Sf0001)
    assert(PlanTree.joins(df).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the bloom word table must broadcast to the probe side")
    assert(PlanTree.cartesians(df).isEmpty)
  }

  test("q96 skyline: the dominance refinement never touches the full part table") {
    val out = Catalog.queries("q96_skyline")(spark, Sf0001)
    // the candidate self-join is a nested-loop by necessity (range
    // dominance predicate) but runs over the localCheckpoint'd
    // candidate RDD, not a parquet scan of part
    val scanCount = PlanTree.scans(out).size
    assert(scanCount <= 1,
      s"dominance refinement must reuse candidates, not rescan part ($scanCount scans)")
  }

  test("q38c exact+sketch gate: the Expand collapses map-side before its shuffle") {
    // Spark's canonical multi-distinct plan: Expand over the scan, then
    // a PARTIAL aggregate on the same side of the exchange — the 3× row
    // expansion must never travel the network un-combined
    val df = Catalog.queries("q38c_hll_error_gate")(spark, Sf0001)
    def hasExpand(p: SparkPlan) = p.find(_.isInstanceOf[ExpandExec]).isDefined
    assert(PlanTree.nodes(df).exists(_.isInstanceOf[ExpandExec]),
      "two exact countDistincts imply an Expand")
    // the first shuffle above an Expand: its input stage holds the
    // Expand and no other shuffle over it
    val firstShuffles = PlanTree.nodes(df).collect {
      case e: ShuffleExchangeLike if hasExpand(e.child) &&
        e.child.find(c => c.isInstanceOf[ShuffleExchangeLike] && hasExpand(c)).isEmpty => e
    }
    assert(firstShuffles.nonEmpty, "expected a shuffle over the Expand")
    firstShuffles.foreach { e =>
      assert(e.child.find(a => a.isInstanceOf[BaseAggregateExec] && hasExpand(a)).isDefined,
        s"a partial aggregate must sit between Expand and the first Exchange:\n$e")
    }
  }
}
