package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._
import graft.sources.Readers

/** Source/sink round-trip catalog (SURVEY.md §2.1): each query writes a
  * fixture in the source's native format to a [[Scratch.session]] dir
  * (keyed on the data dir's full path, so two data dirs never
  * collide), reads it back through [[Readers]], and surfaces the
  * recovered rows — so the oracle over the original parquet table
  * gates the full sink → reader → cast path, not just a happy-path
  * spec.
  */
object QueriesSources {
  import Queries.Q

  // ---------------------------------------------------------------- q42
  /** S4/S5 XML round-trip: nation → built-in XML sink → [[Readers.xml]]
    * (inference off — everything reads back as strings, the reference's
    * contract) → explicit casts. Gates rowTag handling, null-for-absent
    * semantics, and the no-inference policy. */
  val q42XmlRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val out = Scratch.session("q42_xml", dir)(identity)
    Tables.nation(s, dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.mode("overwrite")
      .format("xml").option("rootTag", "nations").option("rowTag", "nation")
      .save(out)
    Readers.xml(s, out, rowTag = "nation")
      .select($"n_nationkey".cast("int").as("n_nationkey"), $"n_name",
        $"n_regionkey".cast("int").as("n_regionkey"))
      .orderBy($"n_nationkey")
  }
  val q42Sql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  // ---------------------------------------------------------------- q43
  /** S2 `.rpt`-style TSV: supplier (+ a synthesized datetime column)
    * → single tab-separated file, then the SQL-Server "(N rows
    * affected)" footer is appended verbatim — the garbage the reference
    * deletes by hand (`clean_encounterids.py:17-19`). DROPMALFORMED
    * must absorb the footer and the pinned-format `to_timestamp` must
    * recover the datetime (surfaced as epoch seconds, never raw). */
  val q43TsvFooter: Q = (s, dir) => {
    import s.implicits._
    val out = Scratch.session("q43_tsv", dir)(identity)
    val n = Tables.supplier(s, dir).count()
    Tables.supplier(s, dir)
      .select($"s_suppkey", $"s_name", $"s_nationkey",
        concat(lit("2020-01-"),
          lpad(($"s_suppkey" % 28 + 1).cast("string"), 2, "0"),
          lit(" 08:30:00")).as("ww_date"),
        $"s_acctbal")
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").option("sep", "\t")
      .csv(out)
    val part = new File(out).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .getOrElse(sys.error(s"no part file written under $out"))
    Files.write(Paths.get(part.getPath),
      s"\n($n rows affected)\n".getBytes("UTF-8"), StandardOpenOption.APPEND)
    // the local Hadoop FS wrote a checksum sidecar at part-file write
    // time; the appended footer invalidates it, so drop it or the
    // re-read fails with a CRC mismatch
    Files.deleteIfExists(Paths.get(part.getParent, s".${part.getName}.crc"))
    Readers.tsvWithFooter(s, part.getPath, dateCols = Seq("ww_date"))
      .select($"s_suppkey".cast("long").as("s_suppkey"), $"s_name",
        $"s_nationkey".cast("int").as("s_nationkey"),
        unix_timestamp($"ww_date").as("ww_es"),
        round($"s_acctbal".cast("double"), 2).as("acctbal"))
      .orderBy($"s_suppkey")
  }
  val q43Sql: String =
    """SELECT s_suppkey, s_name, s_nationkey,
      |  CAST(floor(epoch(CAST(
      |    '2020-01-' || lpad(CAST(s_suppkey % 28 + 1 AS VARCHAR), 2, '0')
      |      || ' 08:30:00' AS TIMESTAMP))) AS BIGINT) AS ww_es,
      |  round(s_acctbal, 2) AS acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q53
  /** JSONL round-trip: documents → line-delimited JSON sink →
    * [[Readers.jsonl]] with an explicit schema (no inference — sampling
    * the data for types is run-order-dependent). Text survives JSON
    * string escaping byte-for-byte: the gate compares md5(text) against
    * the original parquet. */
  val q53JsonlRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val out = Scratch.session("q53_jsonl", dir)(identity)
    val docs = Tables.documents(s, dir)
    Readers.writeJsonl(docs, out)
    Readers.jsonl(s, out, docs.schema)
      .select($"doc_id", md5($"text").as("text_md5"), $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }
  val q53Sql: String =
    """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q54
  /** ORC round-trip on the EVENTS table — the timestamp-bearing one:
    * µs-precision timestamps must survive the ORC writer/reader pair
    * (surfaced as epoch millis under the q47 rule). */
  val q54OrcRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val out = Scratch.session("q54_orc", dir)(identity)
    Readers.writeOrc(
      Tables.events(s, dir).select($"event_id", $"ts", $"user_id", $"event_type", $"value"),
      out)
    Readers.orc(s, out)
      .select($"event_id", unix_millis($"ts").as("ms"), $"user_id", $"event_type",
        round($"value", 2).as("value"))
      .orderBy($"event_id")
  }
  val q54Sql: String =
    """SELECT event_id, epoch_ms(ts) AS ms, user_id, event_type,
      |  round(value, 2) AS "value"
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Z-order layout round-trip ([[graft.sources.Layout.writeZOrdered]]):
    * events rewritten into 16 Morton-clustered files on (user_id,
    * value), read back through a 2-dimensional range predicate and
    * aggregated. The oracle applies the same predicate to the ORIGINAL
    * table — the gate proves the clustering rewrite is content-neutral
    * while `LayoutSpec` separately proves it tightens per-file min/max
    * spans (what the scan-skipping exists for). */
  val q69ZOrderRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val out = Scratch.session("q69_zorder", dir)(identity)
    graft.sources.Layout.writeZOrdered(
      Tables.events(s, dir).select($"event_id", $"user_id", $"event_type", $"value"),
      out, Seq("user_id", "value"), nFiles = 16)
    s.read.parquet(out)
      .filter($"user_id".between(25, 75) && $"value" >= 50.0 && $"value" < 200.0)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"event_id").as("id_sum"),
        round(sum($"value"), 2).as("value_sum"))
      .orderBy($"event_type")
  }
  val q69Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS id_sum,
      |  round(sum(value), 2) AS value_sum
      |FROM events
      |WHERE user_id BETWEEN 25 AND 75 AND value >= 50.0 AND value < 200.0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q183
  /** Hilbert layout round-trip
    * ([[graft.sources.Layout.writeHilbertOrdered]], [[graft.plans
    * .HilbertIndex2D]]): q69's gate with the Morton curve swapped for
    * the continuous Hilbert curve — events rewritten into 16
    * Hilbert-clustered files on (user_id, value), read back through the
    * same 2-D range predicate, aggregated; the oracle applies the
    * predicate to the ORIGINAL table, so the gate proves the curve
    * rewrite is content-neutral. `LayoutSpec` separately proves the
    * curve's point: per-file bounding boxes at most Z-order's on the
    * same data (no inter-quadrant seams), the quantity min/max
    * row-group skipping feeds on. */
  val q183HilbertRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val out = Scratch.session("q183_hilbert", dir)(identity)
    graft.sources.Layout.writeHilbertOrdered(
      Tables.events(s, dir).select($"event_id", $"user_id", $"event_type", $"value"),
      out, Seq("user_id", "value"), nFiles = 16)
    s.read.parquet(out)
      .filter($"user_id".between(25, 75) && $"value" >= 50.0 && $"value" < 200.0)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"event_id").as("id_sum"),
        round(sum($"value"), 2).as("value_sum"))
      .orderBy($"event_type")
  }

  // ---------------------------------------------------------------- q78
  /** Hive-partitioned layout round-trip
    * ([[graft.sources.Layout.writeHivePartitioned]]): documents rewritten
    * as per-language `lang=...` directories, read back through a partition-column
    * predicate — which prunes whole directories before any file is
    * listed (`PartitionFilters` in the scan, proven by `LayoutSpec`) —
    * and aggregated per source. The oracle applies the same predicate to
    * the ORIGINAL table: the partitioning rewrite must be content-neutral
    * including the text payload (md5-checked). */
  val q78PartitionPrune: Q = (s, dir) => {
    import s.implicits._
    val out = Scratch.session("q78_part", dir)(identity)
    graft.sources.Layout.writeHivePartitioned(
      Tables.documents(s, dir), out, Seq("lang"))
    s.read.parquet(out)
      .filter($"lang".isin("en", "fr"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"),
        // cross-engine-stable content checksum: min/max of md5(text)
        min(md5($"text")).as("text_md5_lo"), max(md5($"text")).as("text_md5_hi"))
      .orderBy($"lang", $"source")
  }
  val q78Sql: String =
    """SELECT lang, source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(md5(text)) AS text_md5_lo, max(md5(text)) AS text_md5_hi
      |FROM documents WHERE lang IN ('en', 'fr')
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Schema-evolution read: two parquet generations of the orders feed
    * (v2 adds `o_orderpriority`) land in sibling directories; a
    * `mergeSchema` read reconciles them — v1 rows surface the new column
    * as null, exactly the additive-evolution contract. The oracle
    * restates the union with an explicit NULL column. At scale the
    * merged-footer schema comes from a bounded sample of files, which is
    * why additive (never type-changing) evolution is the rule. */
  val q83SchemaEvolution: Q = (s, dir) => {
    import s.implicits._
    val out = Scratch.session("q83_evo", dir)(identity)
    val orders = Tables.orders(s, dir)
    orders.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_totalprice")
      .write.mode("overwrite").parquet(s"$out/gen=1")
    orders.filter($"o_orderkey" % 2 === 1)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .write.mode("overwrite").parquet(s"$out/gen=2")
    s.read.option("mergeSchema", "true").parquet(s"$out/gen=1", s"$out/gen=2")
      .groupBy(coalesce($"o_orderpriority", lit("MISSING")).as("priority"))
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .orderBy($"priority")
  }
  val q83Sql: String =
    """WITH m AS (
      |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT coalesce(o_orderpriority, 'MISSING') AS priority,
      |       count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Bucketed co-located join ([[graft.sources.Bucketing]]): orders and
    * customer rewritten as EXTERNAL bucketed tables (explicit repo-local
    * paths; the in-memory catalog carries only metadata) hashed into the
    * same bucket count on the customer key, then joined and aggregated.
    * Both scans arrive pre-partitioned on the key, so the sort-merge
    * join needs no Exchange on either side (`BucketingSpec` proves the
    * plan shape) — at 100 TB that is the fact-table shuffle paid once at
    * ingest instead of per query. The oracle is the plain join. */
  val q85BucketedJoin: Q = (s, dir) => {
    import s.implicits._
    val tag = new File(dir).getName.replace('.', '_')
    val (ot, ct) = (s"orders_bkt_$tag", s"customer_bkt_$tag")
    s.sql(s"DROP TABLE IF EXISTS $ot")
    s.sql(s"DROP TABLE IF EXISTS $ct")
    Tables.orders(s, dir).select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .write.mode("overwrite")
      .option("path", Scratch.session("q85_orders", dir)(identity))
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .format("parquet").saveAsTable(ot)
    Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment")
      .write.mode("overwrite")
      .option("path", Scratch.session("q85_customer", dir)(identity))
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .format("parquet").saveAsTable(ct)
    graft.sources.Bucketing.readBucketed(s, ot)
      .join(graft.sources.Bucketing.readBucketed(s, ct),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("total"))
      .orderBy($"c_mktsegment")
  }
  val q85Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Registry: name → (spark program, oracle sql). */
  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q42_xml_roundtrip", q42XmlRoundtrip, Some(q42Sql)),
    ("q43_tsv_footer", q43TsvFooter, Some(q43Sql)),
    ("q53_jsonl_roundtrip", q53JsonlRoundtrip, Some(q53Sql)),
    ("q54_orc_roundtrip", q54OrcRoundtrip, Some(q54Sql)),
    ("q69_zorder_roundtrip", q69ZOrderRoundtrip, Some(q69Sql)),
    ("q78_partition_prune", q78PartitionPrune, Some(q78Sql)),
    // same predicate and oracle as q69: layout must be content-neutral
    ("q183_hilbert_roundtrip", q183HilbertRoundtrip, Some(q69Sql)),
    ("q83_schema_evolution", q83SchemaEvolution, Some(q83Sql)),
    ("q85_bucketed_join", q85BucketedJoin, Some(q85Sql)),
  )
}
