package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the scan-efficiency contracts the
  * engine's 100 TB story rests on, pinned as tests: predicates and
  * column pruning must reach the parquet scan, dimension joins must
  * broadcast, top-k must plan `TakeOrderedAndProject`, and the hot path
  * must stay inside whole-stage codegen. AQE is disabled per assertion
  * (query-stage nodes hide the scan from `collect` — measured lesson).
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def withoutAqe[T](f: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no parquet scan in plan"))

  it("pushes filters and prunes columns at the parquet scan") {
    withoutAqe {
      val df = Tables.lineitem(spark, dir)
        .filter($"l_quantity" >= 48 && $"l_returnflag" === "R")
        .select($"l_orderkey", $"l_quantity")
      val scan = scanOf(df)
      val pushed = scan.metadata("PushedFilters")
      pushed should include("GreaterThanOrEqual(l_quantity,48.0)")
      pushed should include("EqualTo(l_returnflag,R)")
      // ReadSchema carries only the 3 referenced columns, not all 16
      scan.requiredSchema.fieldNames.toSet shouldBe
        Set("l_orderkey", "l_quantity", "l_returnflag")
    }
  }

  it("broadcasts the dimension side of a fact-dim join") {
    withoutAqe {
      val plan = Tables.orders(spark, dir)
        .join(broadcast(Tables.customer(spark, dir)),
          $"o_custkey" === $"c_custkey")
        .queryExecution.executedPlan.toString
      plan should include("BroadcastHashJoin")
      (plan should not).include("SortMergeJoin")
    }
  }

  it("plans order-by-limit as TakeOrderedAndProject (top-k, no full sort)") {
    withoutAqe {
      val plan = Tables.orders(spark, dir)
        .orderBy($"o_totalprice".desc).limit(5)
        .queryExecution.executedPlan.toString
      plan should include("TakeOrderedAndProject")
    }
  }

  it("keeps scalar text analysis inside whole-stage codegen") {
    withoutAqe {
      val df = Tables.documents(spark, dir).select(
        graft.functions.TextAnalysis.qualityScore($"text").as("q"))
      // the compact toString marks codegen stages with `*(n)`; assert on
      // the exec node itself
      val stages = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      stages should not be empty
    }
  }

  it("plans banded simhash pairing as an equi-join, never a cross product") {
    withoutAqe {
      // the whole point of pigeonhole banding: the self-join keys on
      // (block, value) — a nested-loop/cartesian here would be the
      // all-pairs plan sneaking back in
      val sim = graft.operators.TextDedup.simHash64(
        Tables.documents(spark, dir).select($"doc_id", $"text"), "doc_id", "text")
      val plan = graft.operators.TextDedup.bandedHammingPairs64(sim, 3)
        .queryExecution.executedPlan.toString
      (plan should not).include("CartesianProduct")
      (plan should not).include("BroadcastNestedLoopJoin")
    }
  }

  it("chunks text without any exchange (narrow sequence+explode+substring)") {
    withoutAqe {
      // raw table, not Tables.documents: the latter adds its own
      // deliberate fan-out repartition for single-row-group files
      val plan = graft.operators.Packing.chunkText(
        Tables.table(spark, dir, "documents"), "doc_id", "text",
        size = 200, overlap = 50)
        .queryExecution.executedPlan.toString
      (plan should not).include("Exchange")
    }
  }

  it("broadcasts the exploded dim side of a salted join") {
    withoutAqe {
      val facts = Tables.lineitem(spark, dir)
        .select(($"l_orderkey" % 25).as("nk"), $"l_quantity")
      val dim = Tables.nation(spark, dir)
        .select($"n_nationkey".cast("long").as("nk"), $"n_name")
      val plan = graft.operators.SkewJoin.saltedJoin(facts, dim, Seq("nk"), 8)
        .queryExecution.executedPlan.toString
      // 25 rows x 8 salts is still dimension-sized: must broadcast, and
      // the salt must not force a shuffled join
      plan should include("BroadcastHashJoin")
      (plan should not).include("SortMergeJoin")
    }
  }

  it("emits token ids as one codegen'd projection, no exchange, no lambda") {
    withoutAqe {
      // raw read, not Tables.documents: the small-file fan-out helper
      // adds a deliberate repartition that is a no-op at scale and
      // would mask the operator's own (exchange-free) shape
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val merges = Seq(("e", "s"), ("es", "t"))
      val vocab = Map("e" -> 0, "s" -> 1, "t" -> 2, "es" -> 3, "est" -> 4)
      val plan = docs.select(
          graft.operators.BpeTrain.encodeIds($"text", merges, vocab).as("ids"))
        .queryExecution.executedPlan.toString
      plan should include("bpe_encode_ids")
      (plan should not).include("Exchange")
      (plan should not).include("lambda")
    }
  }

  it("streams near-dup ingest through broadcast joins only") {
    withoutAqe {
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
        .limit(50).select($"doc_id", $"text")
      val (fp, sig) = graft.operators.TextDedup
        .buildDedupStore(corpus, "doc_id", "text", shingleN = 5, k = 8)
      val plan = graft.operators.TextDedup
        .ingestFlags(corpus, "doc_id", "text", fp, sig,
          shingleN = 5, k = 8, rowsPerBand = 2, minAgree = 4)
        .queryExecution.executedPlan.toString
      // the arriving side must NEVER shuffle for the store joins — the
      // store tables broadcast; the only aggregation is the per-doc fold
      plan should include("BroadcastHashJoin")
      (plan should not).include("SortMergeJoin")
    }
  }

  it("plans the SCD2 build + gate in ONE keyed exchange (windows share the sort)") {
    withoutAqe {
      val hist = graft.operators.Scd2.buildHistory(
        Tables.events(spark, dir), "user_id", "event_type", "ts", "event_id")
      val gated = QueriesAnalytic.scd2Gate(hist, "event_type",
        unix_micros($"valid_from"), $"valid_to".isNull)
      val plan = gated.queryExecution.executedPlan.toString
      // exchanges: ONE hash partitioning on user_id feeding lag +
      // row_number + lead AND the gate aggregation; the only other
      // exchange is the final presentation orderBy (range partitioning)
      val hashExchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      hashExchanges shouldBe 1
      "Window".r.findAllIn(plan).length should be >= 2 // lag, then rn+lead
    }
  }

  it("plans interval coverage with a single data exchange (windows + both aggs co-partitioned)") {
    withoutAqe {
      val iv = Tables.events(spark, dir)
        .select($"user_id", unix_millis($"ts").as("start"),
          (unix_millis($"ts") + round($"value" * 1000).cast("long")).as("end"))
      val plan = graft.operators.Intervals.coverage(iv, "user_id", "start", "end")
        .queryExecution.executedPlan.toString
      "Exchange hashpartitioning".r.findAllIn(plan).length shouldBe 1
    }
  }

  it("trims bottom-k-by-hash map-side: partial aggregate BEFORE the group exchange") {
    withoutAqe {
      val df = graft.operators.Sampling.bottomKByHash(
        Tables.documents(spark, dir), "lang", "doc_id", k = 3)
      val plan = df.queryExecution.executedPlan.toString
      // partial ObjectHashAggregate below the lang exchange = each map
      // partition ships at most k rows, the operator's whole point
      val idxAgg = plan.indexOf("ObjectHashAggregate")
      val idxEx = plan.indexOf("Exchange hashpartitioning(lang")
      idxAgg should be >= 0
      idxEx should be >= 0
      // plan prints top-down: final agg, exchange, partial agg — so a
      // SECOND ObjectHashAggregate must appear after the exchange
      plan.indexOf("ObjectHashAggregate", idxEx) should be > idxEx
    }
  }

  it("pushes the TPC-H Q7 ship-date range to the lineitem scan and broadcasts all dims") {
    withoutAqe {
      val df = Queries.q167TradeVolume(spark, dir)
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val li = scans.find(_.metadata("Location").contains("lineitem"))
        .getOrElse(fail("no lineitem scan"))
      li.metadata("PushedFilters") should include("GreaterThanOrEqual(l_shipdate")
      (plan.toString should not).include("CartesianProduct")
    }
  }

  it("rewrites the naive row_number≤k window spelling to the bounded-heap TopK plan") {
    withoutAqe {
      graft.plans.TopKPerKey.register(spark)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"n_chars".desc, $"doc_id")
      val df = Tables.documents(spark, dir)
        .select($"lang", $"doc_id", $"n_chars")
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= 5)
        .drop("rn")
      val plan = df.queryExecution.executedPlan.toString
      plan should include("TopK")
      (plan should not).include("Window")          // native window gone
      (plan should not).include("WindowGroupLimit") // Spark's sort-based trim subsumed

      // keep-the-rank spelling must be LEFT ALONE (operator can't emit ranks)
      val kept = Tables.documents(spark, dir)
        .select($"lang", $"doc_id", $"n_chars")
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= 5)
      kept.queryExecution.executedPlan.toString should include("Window")

      // rank() rewrites to the WITH-TIES heap; dense_rank() stays a window
      def spelled(f: org.apache.spark.sql.Column) = Tables.documents(spark, dir)
        .select($"lang", $"doc_id", $"n_chars")
        .withColumn("rk", f.over(w)).where($"rk" <= 5).drop("rk")
      val ranked = spelled(rank()).queryExecution.executedPlan
      ranked.collect { case t: graft.plans.TopKExec => t }
        .map(_.withTies).toSet shouldBe Set(true)
      spelled(dense_rank()).queryExecution.executedPlan.toString should
        include("Window")
    }
  }

  it("rewrites the GLOBAL (no PARTITION BY) row_number≤k spelling without crashing planning") {
    withoutAqe {
      // the r9 ADVICE crash: empty partitionSpec → TopKPerKey(Nil,…) →
      // ClusteredDistribution(Nil), which Spark's require rejects. The
      // empty grouping must plan as AllTuples (single final partition).
      graft.plans.TopKPerKey.register(spark)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"n_chars".desc, $"doc_id")
      val base = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
      val df = base
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= 7)
        .drop("rn")
      val plan = df.queryExecution.executedPlan
      plan.toString should include("TopK")
      (plan.toString should not).include("Window")
      // correctness vs the obvious orderBy+limit plan
      val want = base.orderBy($"n_chars".desc, $"doc_id").limit(7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = df.orderBy($"n_chars".desc, $"doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      got shouldBe want
    }
  }

  it("pushes ts-range predicates through the events NTZ repair to the parquet scan") {
    withoutAqe {
      // RepairTsPushdown: cmp(repaired(ts), TIMESTAMP lit) must reach
      // the scan as a plain ts bound (row-group pruning at scale), not
      // an opaque expression filter
      val df = Tables.events(spark, dir)
        .filter($"ts" >= lit("2024-01-01 00:00:00").cast("timestamp"))
        .select($"event_id", $"ts")
      val pushed = scanOf(df).metadata("PushedFilters")
      pushed should include("GreaterThanOrEqual(ts,")
      // and the rewrite is value-exact: plan-filtered rows == rows whose
      // repaired value satisfies the predicate when evaluated directly
      val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val got = df.select($"event_id").collect().map(_.getLong(0)).toSet
      val want = Tables.events(spark, dir).select($"event_id", $"ts").collect()
        .filter(r => !r.getTimestamp(1).before(cutoff)).map(_.getLong(0)).toSet
      got shouldBe want
    }
  }

  it("pushes ts bounds through the ns-as-INT64 repair with exact DIV bound arithmetic") {
    withoutAqe {
      graft.plans.RepairTsPushdown.install(spark)
      // the round-7 era encoding: raw INT64 nanoseconds
      val epochMicros = (0 until 24).map(h => 1700000000000000L + h * 3600L * 1000000L)
      val tmp = java.nio.file.Files.createTempDirectory("ns-push").toString
      epochMicros.toDF("us").select(($"us" * 1000L).as("ts"), $"us".as("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val repaired = Tables.repairTs(spark.read.parquet(tmp))
      // range bound with a sub-millisecond offset (exercises the ±999
      // truncating-division adjustment, not just the multiple-of-1000 case)
      val cutoff = epochMicros(12) + 123
      val range = repaired
        .filter($"ts" >= timestamp_micros(lit(cutoff))).select($"event_id")
      scanOf(range).metadata("PushedFilters") should include("GreaterThanOrEqual(ts,")
      range.collect().map(_.getLong(0)).toSet shouldBe
        epochMicros.filter(_ > cutoff).toSet // hourly grid: > cutoff = >= next hour
      // equality becomes the exact two-sided ns range
      val eq = repaired
        .filter($"ts" === timestamp_micros(lit(epochMicros(5)))).select($"event_id")
      val pushedEq = scanOf(eq).metadata("PushedFilters")
      pushedEq should include("GreaterThanOrEqual(ts,")
      pushedEq should include("LessThanOrEqual(ts,")
      eq.collect().map(_.getLong(0)).toSeq shouldBe Seq(epochMicros(5))
      // strict upper bound, literal-left form
      val lt = repaired
        .filter(timestamp_micros(lit(epochMicros(3))) > $"ts").select($"event_id")
      scanOf(lt).metadata("PushedFilters") should include("LessThanOrEqual(ts,")
      lt.collect().map(_.getLong(0)).toSet shouldBe epochMicros.take(3).toSet
    }
  }

  it("joins the bucketed dedup store without broadcasting it (exchange-free static sides)") {
    withoutAqe {
      // the inverse pin of the broadcast path above: when the store has
      // outgrown the driver, the static sides must come from their
      // bucketed layout with NO broadcast and NO exchange of their own —
      // only the arriving rows shuffle onto the join keys
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val corpus = spark.read.parquet(s"$dir/documents.parquet")
          .limit(50).select($"doc_id", $"text")
        Scratch.withTempDir("planshape") { scratch =>
          val store = s"$scratch/planshape_store"
          graft.operators.TextDedup.writeDedupStoreBucketed(
            corpus, "doc_id", "text", shingleN = 5, k = 8, rowsPerBand = 2,
            namePrefix = "planshape_store", pathPrefix = store, buckets = 4)
          val flagged = graft.operators.TextDedup.ingestFlagsBucketed(
            corpus, "doc_id", "text", "planshape_store", store,
            shingleN = 5, k = 8, rowsPerBand = 2, minAgree = 4)
          val plan = flagged.queryExecution.executedPlan.toString
          (plan should not).include("BroadcastHashJoin")
          plan should include("SortMergeJoin")
          plan should include("SelectedBucketsCount") // bucketed scans in play
          // three store joins + the per-doc fold: the arriving side pays
          // one hash exchange per join key (bh, s_id, fp) plus one for
          // the final groupBy(id); the three static sides pay NONE (the
          // test corpus's limit() adds one SinglePartition exchange below
          // the arriving side — an input artifact, excluded here)
          "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 4
        }
      } finally
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
