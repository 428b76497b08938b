package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators
  * (BASELINE.json north_star): tokenization, shingling, MinHash, SimHash,
  * rolling-hash fingerprints, token counting, language ID.
  *
  * Everything here is composed from built-in Catalyst expressions
  * (split/transform/aggregate/xxhash64/…) — no Scala UDFs — so the whole
  * pipeline stays inside whole-stage codegen and serializes no closures.
  * At 100 TB that's the difference between a scan-bound pass and a
  * lambda-serialization bottleneck.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish tokenization: letter runs, single digits, punctuation marks —
    * the shape GPT-style pre-tokenizers use. Returns the token array. */
  val bpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeishTokens(text: Column): Column = regexp_extract_all(text, lit(bpeishPattern), lit(0))
  def tokenCount(text: Column): Column = size(bpeishTokens(text)).cast("long")

  /** Word n-gram shingles: ["a","b","c"] with n=2 → ["a b", "b c"].
    * Documents shorter than n shingle to the whole document. Native
    * fused expression (one regex split + one builder pass per shingle;
    * see org.apache.spark.sql.graft.WordShingles) — bit-identical to the
    * composed [[shinglesHof]] form the oracle SQL replays, parity pinned
    * in ShinglesParitySpec. */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.WordShingles.shingles(text, n)

  /** The composed higher-order-function spelling of [[shingles]] — the
    * literal algebra the DuckDB oracles replay (split → sequence →
    * slice/array_join per position). Kept as the parity witness; never
    * the scan path. */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) <= n, array(array_join(toks, " ")))
      .otherwise(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /** MinHash signature: k independent permutations approximated by seeded
    * xxhash64; signature[j] = min over shingles of hash(shingle, seed_j).
    * Deterministic under a fixed seed. Collision probability of two docs'
    * signature positions equals their Jaccard similarity (Broder 1997). */
  def minhashSignature(shinglesCol: Column, numHashes: Int, seed: Long = 42L): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(shinglesCol, s => xxhash64(s, lit(seed + j))))
    }: _*)

  /** Native fast path: same contract as [[minhashSignature]] but hashes
    * each shingle once and derives the k permutation values with a
    * multiply-add (codegen'd single loop — see
    * org.apache.spark.sql.graft.MinHashSig). Signature VALUES differ from
    * the composed version (different hash family); collision statistics
    * are the same. Prefer this in pipelines.
    *
    * Empty-array divergence: on an EMPTY shingle array the composed form
    * yields an array of NULLs (array_min over nothing) while this native
    * form yields all Long.MaxValue. Irrelevant downstream of [[shingles]]
    * (which never emits an empty array), but callers feeding their own
    * shingle columns should filter empties first. */
  def minhashSignatureFast(shinglesCol: Column, numHashes: Int, seed: Long = 42L): Column =
    org.apache.spark.sql.graft.HashExpressions.minhash(shinglesCol, numHashes, seed)

  /** Fully-fused native path: text → tokens → `n`-gram shingles → MinHash
    * signature in ONE codegen'd pass, materializing no shingle array at
    * all (bit-identical to
    * `minhashSignatureFast(shingles(text, n), k, seed)`). This is the
    * form the full-corpus dedup scan should run — see
    * org.apache.spark.sql.graft.MinHashTextSig. */
  def minhashTextSignature(text: Column, shingleN: Int, numHashes: Int,
      seed: Long = 42L): Column =
    org.apache.spark.sql.graft.HashExpressions.minhashText(text, shingleN, numHashes, seed)

  /** Native fast path for [[simhash64]] (one hash per token, no
    * per-token vote arrays — see org.apache.spark.sql.graft.SimHash64). */
  def simhash64Fast(tokensCol: Column, seed: Long = 42L): Column =
    org.apache.spark.sql.graft.HashExpressions.simhash(tokensCol, seed)

  /** LSH band keys for a MinHash signature: split into `bands` bands of
    * rows = numHashes/bands, hash each band. Docs sharing ANY band key are
    * near-dup candidates. Returns array of (band, bucket) structs, bucket
    * = `xxhash64(slice(signature, band*rows+1, rows), band)` computed in
    * one native loop (org.apache.spark.sql.graft.MinHashBandKeys). */
  def bandKeys(signature: Column, bands: Int, numHashes: Int): Column = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    org.apache.spark.sql.graft.BandKeyExpressions.minhashBandKeys(
      signature, bands, numHashes / bands)
  }

  /** 64-bit SimHash over tokens: bit j of the result is 1 iff the sum of
    * ±1 votes (sign of bit j of each token's hash) is positive. Near-dup
    * docs differ in few bits (small Hamming distance). Pure expression —
    * the per-token loop is a fold over the token array. */
  def simhash64(tokensCol: Column): Column = {
    // ±1 vote per bit of a token's hash; masks are static literals because
    // Spark's Scala API has no variable-shift column op.
    def bitVotes(h: Column): Column =
      array((0 until 64).map { j =>
        when(h.bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1)
      }: _*)
    val votes = aggregate(
      tokensCol,
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, bitVotes(xxhash64(t)), (a, v) => a + v))
    // Fold the 64 vote signs back into one long. Two 32-bit halves combined
    // bitwise — a single *2-per-bit fold would hit ANSI long overflow when
    // bit 63 lands set.
    def foldBits(half: Column): Column =
      aggregate(reverse(half), lit(0L), (acc, v) => acc * 2 + when(v > 0, 1L).otherwise(0L))
    val lo = foldBits(slice(votes, 1, 32))
    val hi = foldBits(slice(votes, 33, 32))
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // --------------------------------------------------------------------
  // ORACLE-REPLAYABLE hash family (r13): md5 is the one hash this JVM and
  // DuckDB SQL compute identically, so signatures built from md5 + exact
  // int64 arithmetic are deterministic functions of the corpus BOTH
  // engines can evaluate — the same determinism-by-construction move that
  // promoted q_embedding_near_dup (Similarity.replayableHyperplaneBucket).
  // The xxhash64 kernels above stay the production hot path.
  // --------------------------------------------------------------------

  /** Mersenne prime 2³¹−1: the universal-hash modulus. Bases and
    * coefficients stay < 2³¹, so a·x + b < 2⁶² — exact in int64, no
    * overflow, no float anywhere. */
  val ReplayP = 2147483647L

  /** 32-bit integer from hex chars [off, off+8) of md5(s) — the per-row
    * replayable base hash. DuckDB spelling:
    * `('0x' || substring(md5(s), off+1, 8))::BIGINT`. */
  def md5Base32(s: Column, off: Int = 0): Column =
    conv(substring(md5(s), off + 1, 8), 16, 10).cast("long")

  /** Driver-side md5-derived constant in [0, mod): seeds the replayable
    * permutation coefficients. Deriving them from md5("tag:i") rather
    * than picking numbers keeps the family auditable (nothing tuned to a
    * fixture) while letting the oracle SQL splice the same literals. */
  def md5Coef(tag: String, i: Int, mod: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$tag:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % mod
  }

  /** Replayable MinHash permutation coefficients: h_i(x) = (a_i·x + b_i)
    * mod p over the md5 base — the classic Carter–Wegman universal hash
    * family (Broder 1997 uses exactly this construction for MinHash). */
  def replayCoefs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      (md5Coef("mha", i, ReplayP - 1) + 1, md5Coef("mhb", i, ReplayP))
    }

  /** ORACLE-REPLAYABLE MinHash signature: same contract as
    * [[minhashSignature]] (signature[i] = min over shingles of a seeded
    * permutation hash) but every stage is exact integer arithmetic over
    * md5 bases, so DuckDB replays the values bit-identically. The base
    * md5 is computed ONCE per shingle (the intermediate array is a
    * separate projection the optimizer keeps — referenced numHashes
    * times, so CollapseProject cannot inline it); each permutation is a
    * multiply-add-mod min-fold over that array. */
  def minhashSignatureReplayable(shinglesCol: Column, numHashes: Int): Column = {
    val coefs = replayCoefs(numHashes)
    val xs = transform(shinglesCol, s => md5Base32(s) % ReplayP)
    array(coefs.map { case (a, b) =>
      array_min(transform(xs, x => (x * a + b) % ReplayP))
    }: _*)
  }

  /** Native fused path for the replayable SimHash: text → whitespace
    * tokens → md5-half votes → fingerprint in ONE compiled pass,
    * bit-identical to `simhash64Replayable(tokens(text))` (parity pinned
    * in Md5KernelParitySpec — the composed form below stays as the
    * witness the oracle SQL mirrors). The composed tree is a
    * CodegenFallback HOF fold that recomputes md5 twice per token and
    * allocates a 64-wide vote array per token per row. */
  def simhash64ReplayableText(text: Column): Column =
    org.apache.spark.sql.graft.Md5Expressions.md5SimHashText(text)

  /** ORACLE-REPLAYABLE 64-bit SimHash: [[simhash64]]'s vote fold with the
    * per-token hash replaced by the two 32-bit md5 halves (bits 0–31 from
    * hex chars [8,16), bits 32–63 from [0,8)), so DuckDB can rebuild the
    * fingerprint from the same per-token md5 values. Exact integer sums
    * throughout — the bit is a pure function of the token multiset.
    * PARITY WITNESS spelling — scans should use the fused
    * [[simhash64ReplayableText]]. */
  def simhash64Replayable(tokensCol: Column): Column = {
    val hs = transform(tokensCol, t => struct(
      md5Base32(t, 0).as("hi"),
      md5Base32(t, 8).as("lo")))
    def bitVotes(h: Column): Column =
      array((0 until 64).map { j =>
        val half = if (j < 32) h.getField("lo") else h.getField("hi")
        when(half.bitwiseAND(lit(1L << (j % 32))) =!= 0, 1).otherwise(-1)
      }: _*)
    val votes = aggregate(
      hs,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, bitVotes(h), (a, v) => a + v))
    def foldBits(half: Column): Column =
      aggregate(reverse(half), lit(0L), (acc, v) => acc * 2 + when(v > 0, 1L).otherwise(0L))
    val lo = foldBits(slice(votes, 1, 32))
    val hi = foldBits(slice(votes, 33, 32))
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Polynomial rolling-hash fingerprint of the character stream
    * (order-sensitive, unlike a bag-of-words hash). Modular arithmetic
    * keeps it overflow-free and engine-portable. */
  def rollingHash(text: Column, mod: Long = 1000000007L, base: Long = 131L): Column =
    aggregate(
      split(text, ""),
      lit(0L),
      (acc, ch) => pmod(acc * base + coalesce(ascii(ch).cast("long"), lit(0L)), lit(mod)))

  /** URL canonicalization for crawl dedup: lowercase, strip fragment,
    * strip `utm_*` tracking params INDIVIDUALLY (non-utm params that
    * precede or follow a tracking param survive — dropping the whole
    * query string whenever it merely starts with utm_ would collapse
    * genuinely distinct pages like `?utm_source=x&id=5` vs `&id=6` to
    * one dedup key: silent over-merging), strip default ports (:443
    * https / :80 http), strip a leading `www.`, strip one trailing
    * slash. A pure regexp_replace chain — codegen'd, and every pattern
    * is RE2-safe (no lookaround) so an oracle can replay it verbatim
    * (DuckDB needs the 'g' flag for the run pattern — Spark always
    * replaces all occurrences). Deliberately conservative: query-param
    * SORTING and scheme folding (http≡https) are policy choices left to
    * the caller. */
  def canonicalUrl(url: Column): Column = {
    val lowered = lower(trim(url))
    val noFrag = regexp_replace(lowered, "#.*$", "")
    // runs of utm params followed by another param keep the separator;
    // a trailing run (incl. the whole query) drops with its separator;
    // a now-dangling '?'/'&' left by an all-utm-then-'&' tail drops last
    val noUtmMid = regexp_replace(noFrag, "([?&])(utm_[^&#]*&)+", "$1")
    val noUtm = regexp_replace(
      regexp_replace(noUtmMid, "([?&]utm_[^&#]*)+$", ""),
      "[?&]$", "")
    val noPort = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(noUtm, "^(https://[^/:]+):443/", "$1/"),
          "^(https://[^/:]+):443$", "$1"),
        "^(http://[^/:]+):80/", "$1/"),
      "^(http://[^/:]+):80$", "$1")
    val noWww = regexp_replace(noPort, "^(https?://)www\\.", "$1")
    regexp_replace(noWww, "/$", "")
  }

  /** Unicode normalization (codegen'd native expression — no UDF).
    * Canonicalize BEFORE hashing/dedup: composed vs decomposed accents
    * must fingerprint identically. Forms: NFC (default), NFD, NFKC,
    * NFKD. */
  def normalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.graft.NormalizeString(text, form)

  /** Exact Jaccard similarity of two shingle arrays (set semantics —
    * array_intersect/array_union dedup internally, so raw shingle
    * arrays with repeats are fine). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** [[jaccard]] for arrays already SORTED ascending with DISTINCT
    * elements (`sort_array(array_distinct(...))`): one zero-allocation
    * merge-walk kernel call per pair replaces array_intersect's hash set
    * AND array_union's materialized union — |A∪B| = |A|+|B|−|A∩B| on
    * distinct arrays. Bit-equal to [[jaccard]] on the same sets
    * (IntersectSizeSpec + DedupSpec parity); used by every near-dup
    * verify join, where per-PAIR cost is the budget. */
  def jaccardSortedDistinct(a: Column, b: Column): Column = {
    val inter = org.apache.spark.sql.graft.SortedIntersectSize
      .sortedIntersectSize(a, b).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Tiny n-gram/stopword language-ID heuristic: counts hits against
    * per-language marker sets and returns the argmax language (ties →
    * lexicographically last, deterministic; "und" when nothing matches).
    * Marker lists are
    * deliberately small — this is the cheap first-pass filter a corpus
    * pipeline runs before an expensive classifier. */
  val languageMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"))

  /** Native fast path for [[langId]]: identical semantics (argmax marker
    * hits over cleaned lowercase tokens; ties → lexicographically last;
    * no hits → "und"), one JVM pass instead of interpreted per-token
    * lambdas. Prefer this in pipelines. */
  def langIdFast(text: Column): Column =
    org.apache.spark.sql.graft.HashExpressions.langId(tokens(text), languageMarkers.toSeq)

  def langId(text: Column): Column = {
    // Single pass: fold over tokens accumulating one hit-counter per
    // language. Cleaning (regexp) happens once per token — a per-language
    // filter() would re-run the cleanup transform for every language.
    val langs = languageMarkers.toSeq.sortBy(_._1)
    val counters = aggregate(
      tokens(lower(text)),
      array_repeat(lit(0), langs.size),
      (acc, rawTok) => {
        val t = regexp_replace(rawTok, "[^\\p{L}]", "")
        zip_with(
          acc,
          array(langs.map { case (_, markers) =>
            when(t.isin(markers.map(lit): _*), 1).otherwise(0)
          }: _*),
          (a, v) => a + v)
      })
    // array_max over (hits, lang) structs: max hits wins; equal hits fall
    // back to the lexicographically last lang — deterministic either way.
    // counters is referenced once (zip_with), keeping the fold single.
    val best = array_max(zip_with(
      counters,
      array(langs.map { case (lang, _) => lit(lang) }: _*),
      (hits, lang) => struct(hits.as("hits"), lang.as("lang"))))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
