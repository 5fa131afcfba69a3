package graft.model

import java.sql.Timestamp

/** Canonical data model (SURVEY.md §1, FIXTURES.md §A).
  *
  * Typed case classes mirror the reference's converged output schemas:
  * the canonical stored bar (reference `app/alpaca_service.py:194-206`),
  * the asset/provider catalog rows (`scripts/seed_firestore.py:23-43`),
  * the per-asset ingest summary event (`app/alpaca_service.py:239-250`)
  * and the run status record (`app/alpaca_service.py:19-25`).
  * Prices stay Double and volume Long to match the reference's explicit
  * float/int casts (`app/alpaca_service.py:200-204`) and the oracle.
  */
final case class Bar(
    barKey: String,        // {yyyyMMdd'T'HHmmss'Z'}_{timeframe} (ref :194)
    symbol: String,
    timestamp: Timestamp,  // UTC
    timeframe: String,     // Minute|Hour|Day|Week|Month (ref config.py:62-71)
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Long)

final case class Asset(
    assetDocId: String,
    providerDocId: String,
    symbol: Option[String], // nullable: null-symbol rows are skipped (P5)
    name: String,
    assetClass: String)

final case class Provider(providerId: String, name: String, apiBaseUrl: String)

/** Per-asset batch summary published after a successful write (A1/S5). */
final case class IngestSummary(
    assetSymbol: String,
    timeframe: String,
    startTimestampUtc: String, // ISO %Y-%m-%dT%H:%M:%SZ (ref :246-247)
    endTimestampUtc: String,
    barsCount: Long)

/** Run-level status record (A2/A4; ref `last_fetch_status`). */
final case class RunStatus(
    assetsProcessedCount: Long,
    totalBarsSavedInLastRun: Long,
    runHadErrors: Boolean,
    errorMessage: Option[String])

object Timeframes {
  /** The one timeframe policy of both bar paths.  Each valid label
    * (T5) with its longest bucket in minutes.  Buckets are calendar
    * `date_trunc` units (lowercased label), NOT fixed window durations
    * — epoch-aligned `window()` durations diverge from calendar
    * weeks/months (see StreamingIngest.streamingBars). */
  private val bucketMinutesOf: Map[String, Long] = Map(
    "Minute" -> 1L, "Hour" -> 60L, "Day" -> 1440L,
    "Week" -> 7L * 1440L, "Month" -> 31L * 1440L)

  val valid: Set[String] = bucketMinutesOf.keySet

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Reference behavior (F8, `app/config.py:62-71`): warn and default
    * to Day on an invalid timeframe string rather than failing.  Each
    * bar entry point resolves its label once; the resolved label is
    * what lands in `bar_key` and `timeframe`. */
  def resolve(s: String): String =
    if (valid.contains(s)) s
    else {
      log.warn(s"unknown timeframe label '$s': landing Day bars")
      "Day"
    }

  /** `date_trunc` unit of a label's bucket. */
  def unit(label: String): String = resolve(label).toLowerCase

  /** Length of a label's longest bucket, in minutes. */
  def bucketMinutes(label: String): Long = bucketMinutesOf(resolve(label))
}
