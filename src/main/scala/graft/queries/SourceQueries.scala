package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.LocalFiles

/** Source/sink FORMAT coverage beyond parquet: JSONL and CSV, the two
  * interchange formats a corpus actually arrives in (crawler dumps are
  * JSONL; tabular exports are CSV). Each entry round-trips the documents
  * table through a DISTRIBUTED write + schema-explicit read of the
  * format, then reproduces a content-bearing projection; the oracle
  * reads the original parquet directly — so a hash match proves the
  * round-trip was lossless (serializer, escaping, schema application,
  * reader partitioning all correct), not merely that the files parse.
  *
  * Scale notes: both writes/reads are executor-side and partition-
  * parallel (one file per task, no driver collect); the JSONL arm
  * carries the full `text` payload through JSON escaping (newlines,
  * quotes, unicode), the CSV arm carries scalars (CSV is the wrong
  * carrier for multi-line text — that limit is the point of keeping
  * both arms).
  */
object SourceQueries {
  import Q._

  val entries: Seq[(String, Entry)] = Seq(

    // CDC batch apply — the change-data-feed consumer (Delta CDF /
    // Iceberg changelog semantics) expressed as a QUERY over the base
    // snapshot plus a deterministic change batch: D deletes
    // (doc_id % 17 = 2), U updates (doc_id % 19 = 3, text re-hashed),
    // I inserts (fresh ids above the base range for doc_id % 23 = 4).
    // Apply = one key-anti-join of the base against the D∪U key set,
    // union the U-after rows and the I rows — every join an equi-join
    // on doc_id (co-partitionable by id at 100 TB; the change batch is
    // typically small enough to broadcast, and Spark picks that here).
    // Output is the bounded per-source audit of the resulting table:
    // row count, id-sum checksum, and how many rows carry changed
    // content vs the base.
    "src_cdc_apply" -> Entry(
      (s, d) => {
        import s.implicits._
        val base = rd(s, d, "documents")
          .select($"doc_id", $"source", md5($"text").as("h"))
        val dKeys = base.filter(pmod($"doc_id", lit(17)) === 2)
          .select($"doc_id")
        val uRows = base.filter(pmod($"doc_id", lit(19)) === 3)
          .select($"doc_id", $"source", md5(concat($"h", lit("u"))).as("h"))
        val iRows = base.filter(pmod($"doc_id", lit(23)) === 4)
          .select(($"doc_id" + lit(1000000000L)).as("doc_id"), $"source",
            md5(concat($"h", lit("i"))).as("h"))
        val untouched = base
          .join(dKeys.unionByName(uRows.select($"doc_id")), Seq("doc_id"),
            "left_anti")
        val result = untouched.unionByName(uRows).unionByName(iRows)
        result
          .join(base.select($"doc_id", $"h".as("h0")), Seq("doc_id"), "left")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_rows"),
            sum($"doc_id").as("id_sum"),
            count(when($"h0".isNull || $"h" =!= $"h0", 1)).as("n_changed"))
          .orderBy($"source")
      },
      Some("""WITH base AS (SELECT doc_id, source, md5(text) AS h FROM documents),
             |dk AS (SELECT doc_id FROM base WHERE doc_id % 17 = 2),
             |ur AS (SELECT doc_id, source, md5(h || 'u') AS h
             |       FROM base WHERE doc_id % 19 = 3),
             |ir AS (SELECT doc_id + 1000000000 AS doc_id, source,
             |         md5(h || 'i') AS h
             |       FROM base WHERE doc_id % 23 = 4),
             |unt AS (SELECT * FROM base WHERE doc_id NOT IN
             |    (SELECT doc_id FROM dk UNION ALL SELECT doc_id FROM ur)),
             |res AS (SELECT * FROM unt UNION ALL SELECT * FROM ur
             |        UNION ALL SELECT * FROM ir)
             |SELECT res.source, count(*) AS n_rows,
             |  CAST(sum(res.doc_id) AS BIGINT) AS id_sum,
             |  count(CASE WHEN b.h IS NULL OR res.h != b.h THEN 1 END) AS n_changed
             |FROM res LEFT JOIN (SELECT doc_id, h FROM base) b
             |  ON res.doc_id = b.doc_id
             |GROUP BY res.source ORDER BY res.source""".stripMargin)),

    // JSONL round-trip: full text payload through JSON escaping.
    "src_jsonl_roundtrip" -> Entry(
      (s, d) => {
        import s.implicits._
        val out = LocalFiles.scratchDir("graft-srcrt-jsonl")
        rd(s, d, "documents")
          .select($"doc_id", $"source", $"n_chars", $"text")
          .write.mode("overwrite").json(out)
        s.read
          .schema("doc_id BIGINT, source STRING, n_chars BIGINT, text STRING")
          .json(out)
          .select($"doc_id", $"source", $"n_chars", md5($"text").as("h"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source, n_chars, md5(text) AS h
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // CSV round-trip: scalar projection (id, source, length, content
    // hash) through the CSV writer/reader with explicit schema.
    "src_csv_roundtrip" -> Entry(
      (s, d) => {
        import s.implicits._
        val out = LocalFiles.scratchDir("graft-srcrt-csv")
        rd(s, d, "documents")
          .select($"doc_id", $"source", $"n_chars", md5($"text").as("h"))
          .write.mode("overwrite").option("header", "true").csv(out)
        s.read
          .schema("doc_id BIGINT, source STRING, n_chars BIGINT, h STRING")
          .option("header", "true")
          .csv(out)
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source, n_chars, md5(text) AS h
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ORC round-trip: the columnar interchange format besides parquet
    // this Spark build ships a native reader/writer for (no spark-avro
    // data-source jar in /opt/spark/jars, so Avro is out of scope —
    // documented, not stubbed). Full text payload through ORC string
    // encoding.
    "src_orc_roundtrip" -> Entry(
      (s, d) => {
        import s.implicits._
        val out = LocalFiles.scratchDir("graft-srcrt-orc")
        rd(s, d, "documents")
          .select($"doc_id", $"source", $"n_chars", $"text")
          .write.mode("overwrite").orc(out)
        s.read
          .schema("doc_id BIGINT, source STRING, n_chars BIGINT, text STRING")
          .orc(out)
          .select($"doc_id", $"source", $"n_chars", md5($"text").as("h"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source, n_chars, md5(text) AS h
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Parquet zstd-codec round-trip: at 100 TB the codec choice is a
    // 20-40% storage/scan-IO lever; this gates that the zstd write path
    // (non-default; snappy is the default) round-trips losslessly.
    "src_parquet_zstd_roundtrip" -> Entry(
      (s, d) => {
        import s.implicits._
        val out = LocalFiles.scratchDir("graft-srcrt-zstd")
        rd(s, d, "documents")
          .select($"doc_id", $"source", $"n_chars", $"text")
          .write.mode("overwrite").option("compression", "zstd").parquet(out)
        s.read.parquet(out)
          .select($"doc_id", $"source", $"n_chars", md5($"text").as("h"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source, n_chars, md5(text) AS h
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Hive-style partitioned layout + partition PRUNING: write the
    // documents table partitioned by source, read back with a source
    // predicate. At 100 TB the partition column is the first-order scan
    // eliminator (only matching directories are even listed); PlanSpec
    // asserts the predicate lands in PartitionFilters, not a post-scan
    // filter. The partition column round-trips through the directory
    // NAME (value-as-path), which is why the oracle match also proves
    // the path encoding is lossless for these values.
    "src_partitioned_pruning" -> Entry(
      (s, d) => {
        import s.implicits._
        val out = LocalFiles.scratchDir("graft-srcrt-part")
        rd(s, d, "documents")
          .write.mode("overwrite").partitionBy("source").parquet(out)
        s.read.parquet(out)
          .filter($"source" === "src3")
          .select($"doc_id", $"source", $"n_chars", md5($"text").as("h"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source, n_chars, md5(text) AS h
             |FROM documents WHERE source = 'src3' ORDER BY doc_id""".stripMargin)),

    // Corrupt-record-tolerant ingestion: a JSONL feed with planted
    // malformed lines (doc_id % 9 == 4) read in PERMISSIVE mode — bad
    // lines land in _corrupt_record instead of failing the job (the
    // FAILFAST alternative) or silently vanishing (DROPMALFORMED).
    // Output = per-source good counts + one '_corrupt' bucket; the
    // oracle recomputes both from the planting rule, so the hash match
    // proves the reader quarantined exactly the planted lines and
    // parsed every clean one.
    "src_jsonl_corrupt_permissive" -> Entry(
      (s, d) => {
        import s.implicits._
        val out = LocalFiles.scratchDir("graft-srcrt-corrupt")
        rd(s, d, "documents")
          .select(
            when(pmod($"doc_id", lit(9)) === 4, lit("{broken json"))
              .otherwise(to_json(struct($"doc_id", $"source")))
              .as("value"))
          .write.mode("overwrite").text(out)
        s.read
          .schema("doc_id BIGINT, source STRING, _corrupt_record STRING")
          .json(out)
          .groupBy(coalesce($"source", lit("_corrupt")).as("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy($"bucket")
      },
      Some("""SELECT bucket, count(*) AS n FROM (
             |  SELECT CASE WHEN doc_id % 9 = 4 THEN '_corrupt' ELSE source END AS bucket
             |  FROM documents)
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Z-order (Morton) clustering key — the multi-dimensional data-
    // skipping layout (Delta OPTIMIZE ZORDER / Iceberg sort orders): a
    // table range-sorted by the bit-interleave of two dimensions gives
    // every file TIGHT min/max bounds on BOTH dims, so a 2-D box
    // predicate prunes files on either axis (a plain sort on x leaves y
    // unbounded per file). Both engines compute the identical 16-term
    // interleave of two 8-bit dims (pure shift/mask arithmetic,
    // codegen'd — no UDF), then group by the 64-code z-prefix tile
    // (z >> 6). The Morton property under test: an aligned 64-code
    // range is EXACTLY an 8x8 spatial tile, so every tile's bounds must
    // satisfy max-min <= 7 on both dims — the `tight` column the oracle
    // hash-verifies is the data-skipping guarantee itself. At 100 TB
    // the layout path is repartitionByRange(z) + sortWithinPartitions
    // (parallel range sort, no single-task total order); this entry
    // pins the key math and the bound; src_partitioned_pruning /
    // PlanSpec pin the scan-pruning mechanics.
    "src_zorder_tiles" -> Entry(
      (s, d) => {
        import s.implicits._
        def inter(c: Column, off: Int): Column =
          (0 until 8).map(b =>
            shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), 2 * b + off))
            .reduce(_ bitwiseOR _)
        val dims = rd(s, d, "documents").select(
          pmod($"doc_id" * 7, lit(256)).as("x"),
          pmod($"doc_id" * 13, lit(256)).as("y"))
        dims.select($"x", $"y",
            (inter($"x", 0) bitwiseOR inter($"y", 1)).as("z"))
          .groupBy(shiftright($"z", 6).as("tile"))
          .agg(count(lit(1)).as("n"),
            min($"x").as("min_x"), max($"x").as("max_x"),
            min($"y").as("min_y"), max($"y").as("max_y"))
          .select($"tile", $"n", $"min_x", $"max_x", $"min_y", $"max_y",
            ($"max_x" - $"min_x" <= 7 && $"max_y" - $"min_y" <= 7)
              .cast("string").as("tight"))
          .orderBy($"tile")
      },
      Some {
        val z = (0 until 8).map(b =>
          s"(((x>>$b)&1)<<${2 * b}) | (((y>>$b)&1)<<${2 * b + 1})")
          .mkString(" | ")
        s"""WITH dims AS (
           |  SELECT (doc_id*7)%256 AS x, (doc_id*13)%256 AS y FROM documents),
           |zc AS (SELECT x, y, ($z) AS z FROM dims)
           |SELECT z>>6 AS tile, count(*) AS n,
           |  min(x) AS min_x, max(x) AS max_x,
           |  min(y) AS min_y, max(y) AS max_y,
           |  CAST(max(x)-min(x) <= 7 AND max(y)-min(y) <= 7 AS VARCHAR) AS tight
           |FROM zc GROUP BY tile ORDER BY tile""".stripMargin
      }),

    // Table-statistics collection (ANALYZE TABLE ... COMPUTE STATISTICS
    // FOR COLUMNS analog) — the stats job that feeds a cost-based
    // optimizer and partition planner: per-column distinct count, null
    // count, min/max, plus the table row count, in ONE scan (a single
    // aggregate; the multi-distinct is one Expand over that scan —
    // Spark's grouping-sets machinery — then stack() pivots the wide
    // stats row into per-column rows driver-side-free). The oracle's
    // 3-scan UNION is just the oracle; the engine never rescans. At
    // 100 TB the exact count(DISTINCT) re-keys the corpus by value —
    // the production swap is approx_count_distinct (HLL, one pass, no
    // Expand; sk_hll_distinct carries that sketch's own oracle-gated
    // math); exact here is what makes the gate hashable.
    "src_table_stats" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents").agg(
            count(lit(1)).as("n_rows"),
            countDistinct($"lang").as("lang_ndv"),
            (count(lit(1)) - count($"lang")).as("lang_null"),
            min($"lang").cast("string").as("lang_min"),
            max($"lang").cast("string").as("lang_max"),
            countDistinct($"source").as("src_ndv"),
            (count(lit(1)) - count($"source")).as("src_null"),
            min($"source").cast("string").as("src_min"),
            max($"source").cast("string").as("src_max"),
            countDistinct($"n_chars").as("nch_ndv"),
            (count(lit(1)) - count($"n_chars")).as("nch_null"),
            min($"n_chars").cast("string").as("nch_min"),
            max($"n_chars").cast("string").as("nch_max"))
          .select(col("n_rows"), expr(
            """stack(3,
              |  'lang',    lang_ndv, lang_null, lang_min, lang_max,
              |  'n_chars', nch_ndv,  nch_null,  nch_min,  nch_max,
              |  'source',  src_ndv,  src_null,  src_min,  src_max
              |) AS (col_name, ndv, n_null, min_v, max_v)""".stripMargin))
          .select($"col_name", $"ndv", $"n_null", $"min_v", $"max_v", $"n_rows")
          .orderBy($"col_name")
      },
      Some("""SELECT * FROM (
             |  SELECT 'lang' AS col_name, count(DISTINCT lang) AS ndv,
             |    count(*)-count(lang) AS n_null,
             |    CAST(min(lang) AS VARCHAR) AS min_v,
             |    CAST(max(lang) AS VARCHAR) AS max_v, count(*) AS n_rows
             |  FROM documents
             |  UNION ALL
             |  SELECT 'n_chars', count(DISTINCT n_chars), count(*)-count(n_chars),
             |    CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR), count(*)
             |  FROM documents
             |  UNION ALL
             |  SELECT 'source', count(DISTINCT source), count(*)-count(source),
             |    CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR), count(*)
             |  FROM documents)
             |ORDER BY col_name""".stripMargin))
  )
}
