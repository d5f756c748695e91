package graft.engine

import org.apache.spark.sql.DataFrame

/** Sink boundary (K1). The system of record is the snapshot-scoped
  * parquet results table (resume correctness depends on its overwrite
  * idempotence); a JDBC mirror is config-gated on top — the one sink a
  * reference user actually had (per-document INSERT into Postgres,
  * finalcodes/Facesheet.py:195-196). Unlike the reference's
  * autocommit-per-row, rows go out in executor-side batched inserts
  * (`batchsize`), partition-parallel — the 100 TB-safe shape for a
  * relational sink.
  */
object Sinks {

  /** JDBC mirror config. DELIVERY CONTRACT (default, `staged = false`):
    * the mirror is append-only AT-LEAST-ONCE — a crash-resume re-appends
    * the whole snapshot, and a partially failed executor write can leave
    * partial duplicates within one attempt. Every consumer MUST dedupe on
    * (snapshot_id, conv_id, turn_idx) — e.g. load via a staging table +
    * `MERGE`/`INSERT ... ON CONFLICT DO NOTHING` on that key, or read
    * through a view with `row_number() over (partition by snapshot_id,
    * conv_id, turn_idx) = 1`. Exactly-once lives in the parquet system of
    * record (snapshot overwrite + commit marker), not here.
    *
    * `staged = true` makes consumer-side dedup optional: each snapshot
    * goes to its own `<table>_snap_<id>` staging table with OVERWRITE
    * (truncate) semantics, so a crash-replay rewrites the staging table
    * instead of re-appending (see [[mirrorToJdbcStaged]]).
    */
  final case class JdbcConfig(url: String, table: String,
      options: Map[String, String] = Map.empty, staged: Boolean = false)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** K6 debug text dump — the reference writes each document's full text
    * to `full_pdf_text.txt` for manual review
    * (MiscTestingScripts/Lauren_RX__JPG_Reader.py:433-435, one file,
    * overwritten per document). The Spark-native shape: one partitioned
    * text dump per run, `<id>\t<escaped-text>` lines, so the dump stays
    * greppable AND distributed (no driver collect, no single-file
    * bottleneck at 100 TB). Escaping is lossless: backslash first, then
    * \n, \r, \t — so a literal "\n" in the source text dumps as "\\n"
    * and is distinguishable from an escaped newline, and tabs cannot
    * break the two-field split. Debug-only: never on the production
    * path.
    */
  def debugTextDump(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    import org.apache.spark.sql.functions._
    val escaped = Seq("\n" -> "n", "\r" -> "r", "\t" -> "t")
      .foldLeft(regexp_replace(col(textCol), "\\\\", "\\\\\\\\")) {
        case (c, (ch, name)) => regexp_replace(c, ch, "\\\\" + name)
      }
    df.select(concat_ws("\t", col(idCol).cast("string"), escaped).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** Inverse of [[debugTextDump]]'s escaping, for tooling that wants the
    * original text back from a dump line's second field.
    */
  def unescapeDumpText(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case _    => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  /** Append `df` to `cfg.table` (Spark applies `truncate` only under
    * overwrite, so the shared writer's option block holds here too).
    */
  def mirrorToJdbc(df: DataFrame, cfg: JdbcConfig): Unit =
    jdbcTableWriter(cfg)(df, cfg.table, false)

  /** Table-write indirection: production writes through Spark's JDBC
    * source; tests inject an in-memory writer (this container ships no
    * JDBC driver), gating the staging ORCHESTRATION — table naming and
    * overwrite-on-replay — against a real crash-replay sequence.
    */
  type TableWriter = (DataFrame, String, Boolean) => Unit

  def jdbcTableWriter(cfg: JdbcConfig): TableWriter =
    (df, table, overwrite) =>
      df.write.mode(if (overwrite) "overwrite" else "append")
        .format("jdbc")
        .option("url", cfg.url)
        .option("dbtable", table)
        .option("batchsize", 1000)
        .option("isolationLevel", "READ_COMMITTED")
        // overwrite TRUNCATES and refills rather than drop/recreate, so
        // grants/indexes on the staging table survive a replay
        .option("truncate", "true")
        .options(cfg.options)
        .save()

  /** K1 staging mode (`JdbcConfig.staged`): the snapshot's rows go to
    * `<table>_snap_<snapshotId>` with overwrite semantics. Crash-replay
    * of an uncommitted snapshot rewrites the SAME staging table, so the
    * mirror holds each snapshot's rows exactly once and consumer-side
    * dedup becomes optional — read the union of staging tables, or
    * promote each with one `INSERT ... SELECT` after the snapshot's
    * commit marker lands. (A mid-write crash can leave a PARTIAL staging
    * table, but never duplicates; the commit marker tells the consumer
    * which staging tables are complete.)
    */
  def mirrorToJdbcStaged(df: DataFrame, cfg: JdbcConfig, snapshotId: Long,
      write: Option[TableWriter] = None): Unit =
    write.getOrElse(jdbcTableWriter(cfg))(
      df, s"${cfg.table}_snap_$snapshotId", true)
}
