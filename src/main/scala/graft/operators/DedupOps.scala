package graft.operators

import graft.functions.Text
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deduplication primitives for LLM-data pipelines, as pure Column
  * expressions (codegen'd, shuffle-free until the final group/join):
  *
  *  - exact:    md5 over raw or token-normalized text -> groupBy
  *  - MinHash:  word-shingles -> k seeded min-hashes -> LSH band keys;
  *              candidate pairs come from a single shuffle on band key
  *              (no O(n^2) compare — the scale path for 100 TB corpora)
  *  - SimHash:  per-token hash bit votes -> 60-bit locality hash
  *  - n-gram Jaccard: exact set overlap for candidate verification
  *
  * Hash function choice: md5 (not Spark's murmur/xxhash) so signatures
  * are reproducible in any engine — the DuckDB oracle recomputes them
  * bit-for-bit. For a pure-Spark production run, swapping md5 for
  * xxhash64 is a one-line change and ~3x faster; semantics identical.
  */
object DedupOps {

  /** Canonical content fingerprint: md5 of the lowercased token stream
    * (whitespace/punct-insensitive, case-insensitive). Canonical form is
    * separator-runs -> single space + trim, which equals the tokens
    * joined by spaces — one codegen'd regexp pass, no array
    * materialization (the HOF token-array formulation is interpreted).
    */
  def fingerprint(textCol: Column): Column =
    md5(trim(regexp_replace(lower(textCol), "[^a-z0-9]+", " ")).cast("binary"))

  /** Distinct word n-shingles of a text column — the REFERENCE
    * formulation, kept for spec-side cross-checks only: the array HOFs
    * underneath are interpreted (CodegenFallback) and O(tokens^2) per
    * row. Hot paths use the fused [[graft.functions.NgramExplode]] /
    * [[graft.functions.ShingleHashes]] generators instead (measured
    * minutes-vs-seconds on the x20 corpus).
    */
  def shingles(textCol: Column, n: Int = 3): Column =
    array_distinct(Text.ngrams(Text.tokensLower(textCol), n))

  /** [[minhashSignatures]] with the signature as k FLAT long columns
    * `_m0.._m{k-1}` instead of one array column. The flat shape is what
    * the pair pipeline wants: fixed-length UnsafeRows through the
    * re-attach join (no per-row array header decode + variable-length
    * copy — measured ~4x on the scoring stage), and the signature
    * agreement count is k codegen'd long compares on direct columns.
    */
  def minhashSignaturesFlat(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: Column, n: Int = 3, k: Int = 16): org.apache.spark.sql.DataFrame = {
    // Fused generator: lowercased text -> (h1, h2) per n-gram shingle,
    // one digest each, no intermediate arrays (see ShingleHashes).
    // Duplicate shingles need no dedup: MIN is idempotent over them.
    val hashed = df.select(col(idCol),
      graft.functions.ShingleHashes
        .shingleHashes(df.sparkSession, lower(textCol), n).as(Seq("h1", "h2")))
    val mins = (0 until k).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"_m$i"))
    hashed.groupBy(idCol).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures, computed with ONE md5 per (doc, shingle) and k
    * universal integer hashes g_i = h1 + i*h2 derived from the digest
    * (h1, h2 are 48-bit, so g_i < 2^52 — exact in long on any engine).
    * Shape: explode shingles -> hash -> single hash-agg of k `min`s per
    * doc. One shuffle on doc id; k-fold cheaper than per-seed md5 and
    * immune to expression re-inlining blowup.
    *
    * Returns (idCol, sig: array<long>[k]); docs with no shingles drop.
    */
  def minhashSignatures(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: Column, n: Int = 3, k: Int = 16): org.apache.spark.sql.DataFrame =
    minhashSignaturesFlat(df, idCol, textCol, n, k)
      .select(col(idCol),
        array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))

  /** Exact Jaccard similarity of two pre-deduplicated string arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Whether |corpus|-derived side frames (minhash signatures, CC label
    * frames — one short row per document) are within broadcast reach, so
    * the dedup pipelines can pick broadcast vs shuffle joins as a code
    * path rather than a hard-wired hint. Gated on the SOURCE frame's
    * optimizer size estimate: a parquet scan's stats are file-size
    * accurate, while the derived aggregates inherit inflated guesses —
    * and the derived frames (~100 B/doc) are strictly smaller than the
    * text they summarize. The cap is deliberately conservative: at
    * 100 TB the corpus estimate exceeds any cap and every dedup join
    * degrades gracefully to a doc_id shuffle join.
    */
  def broadcastReach(docs: org.apache.spark.sql.DataFrame): Boolean = {
    val cap = docs.sparkSession.conf
      .get("spark.graft.dedup.broadcastCorpusBytes", (256L << 20).toString)
      .toLong
    docs.queryExecution.optimizedPlan.stats.sizeInBytes <= cap
  }

  /** The broadcast hint as a size-derived function: identity (shuffle
    * join) past broadcast reach of the source corpus.
    */
  def sizeHint(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    if (broadcastReach(docs)) broadcast else identity
}
