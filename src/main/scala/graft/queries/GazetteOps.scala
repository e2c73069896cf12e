package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.F
import graft.plans.SelectorExtension

/** Queries exercising the engine's Gazette-derived operator families:
  * the UUID v1 scalar family (SURVEY §2.4 E1), partition mappings
  * (§2.3 M2), CRC64 folds (§2.5 A5), and label selectors (§2.2 P1-P2).
  *
  * Oracle strategy: UUID clock/flag arithmetic is plain integer math and
  * is re-expressed directly in DuckDB SQL. FNV-1a32 and CRC64-ECMA are
  * public, fixed algorithms over a small set of distinct categorical
  * inputs here; their oracle constants were computed with an independent
  * (non-engine) implementation.
  */
object GazetteOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- q14: UUID v1 build/extract round-trip over the event stream.
    // Producer identity from user_id, clock from event-time, txn flags
    // from event semantics — then extract every component back.
    "q14_uuid_roundtrip" -> { (s, d) =>
      import s.implicits._
      val flags = expr(
        "CASE event_type WHEN 'error' THEN 2 WHEN 'purchase' THEN 1 ELSE 0 END")
      Tables.events(s, d)
        .withColumn("producer",
          lpad(($"user_id" % 1000000).cast("string"), 6, "0").cast("binary"))
        .withColumn("uuid",
          F.build_uuid($"producer", F.micros_to_clock(expr("ts DIV 1000")), flags))
        .select(
          $"event_id",
          F.uuid_micros($"uuid").as("micros"),
          F.uuid_flags($"uuid").as("flags"),
          F.uuid_producer($"uuid").cast("string").as("producer_str"))
    },

    // ---- q15: ModuloMapping — FNV-1a32 over the mapping key, stable
    // partition index modulo 8 (message/routines.go:80-96).
    "q15_fnv_partition_map" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("fnv", F.fnv1a32($"event_type"))
        .withColumn("partition", F.fnv_modulo($"event_type", 8))
        .select($"event_type", $"fnv", $"partition", $"n")
    },

    // ---- q16: CRC64-ECMA folds per document source (stream-sum's
    // per-stream checksum, examples/stream-sum/stream_sum.go:100-112).
    "q16_crc64_sources" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("crc", F.crc64($"source"))
        .select($"source", $"crc", $"n_docs")
    },

    // ---- q17: label-selector resolution (P1/P2): the documents table's
    // (lang, source) columns act as the label set (a NULL column is an
    // absent label); the selector compiles to a Catalyst predicate.
    "q17_selector_filter" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(SelectorExtension.matches_selector(
          map(lit("lang"), col("lang"), lit("source"), col("source")),
          "lang in (en, de), source:prefix=src1, source not in (src14, src16)"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
    }
  )

  // Oracle constants computed with an independent Python implementation
  // of FNV-1a32 / CRC64-ECMA (see scaladoc above).
  private val fnvCase =
    """CASE event_type
      |  WHEN 'click' THEN 1551804527 WHEN 'error' THEN 563185489
      |  WHEN 'purchase' THEN 2513801058 WHEN 'signup' THEN 2711200521
      |  WHEN 'view' THEN 3685020920 END""".stripMargin

  private val crcCase =
    """CASE source
      |  WHEN 'src0' THEN -251579647836193242 WHEN 'src1' THEN 5741096780412887369
      |  WHEN 'src2' THEN 578153944413494909 WHEN 'src3' THEN -4960627797385641710
      |  WHEN 'src4' THEN -8695617311764242411 WHEN 'src5' THEN 3782102976297533306
      |  WHEN 'src6' THEN 8347070580969603150 WHEN 'src7' THEN -4541725425018478815
      |  WHEN 'src8' THEN 802681616129311296 WHEN 'src9' THEN -5184208237020799697
      |  WHEN 'src10' THEN -5082577988120127733 WHEN 'src11' THEN 745700337696245860
      |  WHEN 'src12' THEN 5616895180438370128 WHEN 'src13' THEN -81780754928457665
      |  WHEN 'src14' THEN -4420338304496563912 WHEN 'src15' THEN 8181212058294507095
      |  WHEN 'src16' THEN 3901238696706222435 WHEN 'src17' THEN -8859223325687548404
      |  WHEN 'src18' THEN 5680878846706969453 WHEN 'src19' THEN -146149798266227710 END""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q14_uuid_roundtrip" ->
      """SELECT event_id,
        |  epoch_ns(ts) // 1000 AS micros,
        |  CASE event_type WHEN 'error' THEN 2 WHEN 'purchase' THEN 1 ELSE 0 END AS flags,
        |  lpad(CAST(user_id % 1000000 AS VARCHAR), 6, '0') AS producer_str
        |FROM events""".stripMargin,

    "q15_fnv_partition_map" ->
      s"""SELECT event_type, $fnvCase AS fnv, ($fnvCase) % 8 AS partition, count(*) AS n
         |FROM events GROUP BY event_type""".stripMargin,

    "q16_crc64_sources" ->
      s"""SELECT source, $crcCase AS crc, count(*) AS n_docs
         |FROM documents GROUP BY source""".stripMargin,

    "q17_selector_filter" ->
      """SELECT lang, source, count(*) AS n FROM documents
        |WHERE (lang = 'de' OR lang = 'en')
        |  AND source LIKE 'src1%'
        |  AND (source <> 'src14' AND source <> 'src16')
        |GROUP BY lang, source""".stripMargin
  )
}
