package graft.codec

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression layer: oracle-portable hashing, B3 trace-context codec,
  * Kafka header algebra. Pure column functions — everything stays inside
  * whole-stage codegen; no Scala UDFs in any hot path.
  *
  * Reference semantics reproduced here:
  *  - B3 single-header format "{traceId}-{spanId}-{sampled}"
  *    (reference: src/test/java/com/github/timtebeek/StreamsConfigTest.java:92),
  *  - last-wins header lookup (StreamsConfigTest.java:64 `lastHeader`),
  *  - fresh span id per processing hop, same trace id
  *    (reference: README.adoc:124 "same traceId, but a different spanId"),
  *  - messageid baggage derivation "messageid_" + value
  *    (reference: src/main/java/com/github/timtebeek/StreamsConfig.java:35).
  */
object Codecs {

  /** 56-bit deterministic hash reproducible in ANSI SQL by the DuckDB
    * oracle:
    *   spark : md5 digest's leading 7 bytes as a long
    *           ([[graft.functions.Md5Prefix56]] — bit-for-bit the old
    *           conv(substr(md5(s),1,14),16,10) chain without its three
    *           per-row string round-trips, spec-pinned)
    *   duckdb: ('0x' || substr(md5(s),1,14))::BIGINT
    * Used wherever the oracle must reproduce engine-side hashing
    * (minhash, simhash, LSH bands, fingerprints, exact-dedup keys).
    *
    * Scale note: at 100 TB the same call sites can swap in
    * [[scaleHash]] (xxhash64 — one codegen'd instruction stream, no md5
    * at all); md5-based form is kept as default so correctness stays
    * externally checkable. */
  def portableHash(c: Column): Column =
    graft.functions.Md5Prefix56.md5Prefix56(c.cast("string").cast("binary"))

  /** Production-scale variant of [[portableHash]]: 64-bit xxhash, far
    * cheaper per row, NOT reproducible by the SQL oracle. */
  def scaleHash(c: Column): Column = xxhash64(c)

  /** 16-hex-char trace id minted deterministically from a seed column
    * (the oracle-friendly analog of the reference's random 16-digit
    * trace ids, StreamsConfigTest.java:53). */
  def traceIdFrom(seed: Column): Column =
    substring(md5(seed.cast("string").cast("binary")), 1, 16)

  /** Deterministic child-span id: a new span per (trace, operator) hop.
    * The reference mints a fresh random spanId per traced processing
    * step; hashing (trace, op) keeps the DuckDB oracle able to
    * reproduce it (SURVEY.md §7.3). */
  def mintSpanId(traceId: Column, op: Column): Column =
    substring(md5(concat(traceId, lit("-"), op).cast("binary")), 1, 16)

  /** Production id minting: a fresh RANDOM 16-hex id per row, per
    * expression instance (uuid-derived) — the reference's actual
    * behavior, which mints a random span id for every traced hop
    * (reference: StreamsConfigTest.java:53-55). NOT reproducible by
    * the SQL oracle, so the Verify registry uses the deterministic
    * [[mintSpanId]] twin; this variant is for production pipelines
    * (and PipelineDemo), where id uniqueness matters and replay
    * determinism does not. */
  def mintSpanIdRandom(): Column =
    substring(regexp_replace(uuid(), "-", ""), 1, 16)

  /** Render the B3 single header: "{traceId}-{spanId}-{1|0}". */
  def b3Render(traceId: Column, spanId: Column, sampled: Column): Column =
    concat_ws("-", traceId, spanId, when(sampled, lit("1")).otherwise(lit("0")))

  /** B3 single-header field extraction (split_part is 1-based and exists
    * with identical semantics in DuckDB — kept portable on purpose). */
  def b3TraceId(b3: Column): Column = split_part(b3, lit("-"), lit(1))
  def b3SpanId(b3: Column): Column = split_part(b3, lit("-"), lit(2))
  def b3Sampled(b3: Column): Column = split_part(b3, lit("-"), lit(3)) === "1"

  /** Last-wins header lookup over ARRAY<STRUCT<key,value>> — Kafka
    * allows duplicate header keys and the reference reads
    * `headers().lastHeader(name)`. try_element_at returns null on a
    * missing header instead of raising (ANSI mode is on in Spark 4). */
  def headerLast(headers: Column, name: String): Column =
    try_element_at(filter(headers, h => h.getField("key") === name), lit(-1))
      .getField("value")

  /** Replace-or-append headers, preserving all other keys and their
    * order (SURVEY.md §7.4 "header column round-trip"): the other
    * headers, then one header per pair in argument order. One `filter`
    * and one `concat` whatever the pair count — nesting single-pair
    * calls gives the same array, but the outer `filter` then takes the
    * inner `concat` as its argument and both evaluate interpreted. An
    * entry with a null key is dropped; null headers stay null. */
  def headerSet(headers: Column, pairs: (String, Column)*): Column = {
    val names = pairs.map(_._1)
    require(names.nonEmpty && names.distinct == names, s"headerSet needs distinct names: $names")
    concat(
      filter(headers, h => !h.getField("key").isin(names: _*)),
      array(pairs.map { case (n, v) => struct(lit(n).as("key"), v.as("value")) }: _*))
  }

  /** Tokenize: trim, lowercase, split on whitespace, drop empties —
    * mirrored verbatim by the oracle SQL. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** Word n-gram shingles as space-joined strings. Guarded:
    * sequence(1, m) with m < 1 would step BACKWARDS in Spark, so
    * short docs yield an empty array. Built with n direct element
    * lookups + one concat_ws per position instead of slice() +
    * array_join(): slice COPIES a sub-array per shingle and the pair
    * runs interpreted inside the transform lambda — measured 12×
    * slower on the corpus scan (sf0.1: 6.5 s → 0.5 s; BASELINE.md)
    * for a bit-identical result (same positions, same joiner, tokens are
    * non-null by construction). element_at() is NOT the lookup to
    * use: its ANSI bounds machinery ran 25× slower than the plain
    * 0-based GetArrayItem extraction (`tk[i]`) this builds.
    *
    * CALLER CONTRACT for corpus-scale scans: project the token array
    * into a column FIRST (`.select(tokens(text).as("tk"))`, then
    * `shingles(col("tk"), n)`). This builder references `toks` n+2
    * times, and a Column argument is copied as a SUBTREE per
    * reference — pass an inlined `tokens(text)` and the row
    * re-tokenizes n+2 times (no common-subexpression rescue; CSE
    * does not reach inside HOF lambdas) — measured ~20× on the
    * sf0.1 corpus scan (BASELINE.md). A pre-projected
    * column reference is shared, and CollapseProject declines to
    * inline it back precisely because it is multi-referenced.
    * Streaming gates that inline it accept the constant factor on
    * per-batch volumes. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => toks(i + lit(j - 1))): _*)))
      .otherwise(array().cast("array<string>"))
}
