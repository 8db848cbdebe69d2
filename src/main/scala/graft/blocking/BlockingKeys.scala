package graft.blocking

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** B1/B5/B6: blocking-key generators. All are pure Column expressions
  * (codegen'd, no UDFs) emitting `array<string>` of keys; `explodeKeys`
  * turns them into the central `(block_key, doc_id)` join table
  * (the Spark analog of the reference's BlockingKey nodes +
  * HAS_BLOCKING_KEY edges, graph/CypherExecutor.java:359-372).
  */
object BlockingKeys {

  /** B1: the reference's default strategy
    * (similarity/DefaultBlockingKeyStrategy.java:24-57):
    * pfx: first 3 chars; tok: first 2 alphabetically-sorted tokens joined
    * by '|' (single token -> that token); bg: first 2 chars; blank -> no keys.
    * Input is lowercased + trimmed first (the strategy re-cleans even
    * already-normalized input).
    */
  def defaultKeys(name: Column): Column = {
    val cleaned = trim(lower(name))
    val toks = split(cleaned, "\\s+")
    val sorted = array_sort(toks)
    val pfx = concat(lit("pfx:"), substring(cleaned, 1, 3))
    val tok = when(size(toks) >= 2,
        concat(lit("tok:"), element_at(sorted, 1), lit("|"), element_at(sorted, 2)))
      .otherwise(concat(lit("tok:"), element_at(toks, 1)))
    val bg = concat(lit("bg:"), substring(cleaned, 1, 2))
    when(name.isNull || cleaned === "", array().cast("array<string>"))
      .otherwise(array(pfx, tok, bg))
  }

  /** Plain-Scala mirror of [[defaultKeys]] for the generator and tests —
    * the COLUMN semantics, faithfully: Spark `trim` strips ASCII spaces
    * only (NOT all whitespace like String.trim), `lower` mirrors
    * `UTF8String.toLowerCase` exactly — ASCII fast path for full-ASCII
    * input, DEFAULT-LOCALE `String.toLowerCase` otherwise (that is what
    * `toLowerCaseSlow` calls, so on a tr-TR JVM the ENGINE itself emits
    * dotless-i keys for non-ASCII names containing 'I'; a Locale.ROOT
    * mirror would silently disagree with it there) — and `split` keeps
    * trailing empty tokens (Java limit -1, not the default 0). A mirror
    * using the idiomatic String methods silently disagreed with the
    * engine on names with non-space whitespace. (Whitespace-only names
    * slip past the blank guard in BOTH versions and key together —
    * upstream normalization collapses them to "" before keying, so the
    * pipeline never feeds one; raw callers should pre-filter.)
    */
  def defaultKeysScala(name: String): Seq[String] = {
    if (name == null) return Seq.empty
    var fullAscii = true
    var ci = 0
    while (fullAscii && ci < name.length) {
      if (name.charAt(ci) >= 0x80) fullAscii = false
      ci += 1
    }
    val lowered =
      if (fullAscii) name.toLowerCase(java.util.Locale.ROOT)
      else name.toLowerCase() // UTF8String.toLowerCaseSlow: default locale
    var s = 0
    var e = lowered.length
    while (s < e && lowered.charAt(s) == ' ') s += 1
    while (e > s && lowered.charAt(e - 1) == ' ') e -= 1
    val cleaned = lowered.substring(s, e)
    if (cleaned.isEmpty) return Seq.empty
    val toks = cleaned.split("\\s+", -1)
    val pfx = "pfx:" + cleaned.substring(0, math.min(3, cleaned.length))
    val tok =
      if (toks.length >= 2) { val srt = toks.sorted; s"tok:${srt(0)}|${srt(1)}" }
      else s"tok:${toks(0)}"
    val bg = "bg:" + cleaned.substring(0, math.min(2, cleaned.length))
    Seq(pfx, tok, bg)
  }

  /** B5: sorted-neighborhood key — the smallest sorted token plus a short
    * prefix of the second-smallest. Not in the reference (mandated by the
    * north star); a key-based sorted neighborhood scales without a global
    * sort: docs adjacent in sorted-token order share the key, and it is
    * reorder-invariant. Keying on the token pair (not a fixed-length
    * prefix of the concatenated sort key) avoids degeneracy on long token
    * lists, where the minimum token concentrates on the low end of the
    * vocabulary and a char-prefix key collapses to a handful of giant
    * blocks.
    */
  def sortedNeighborhoodKey(name: Column, secondPrefixLen: Int = 2): Column = {
    val cleaned = trim(lower(name))
    val sorted = array_sort(split(cleaned, "\\s+"))
    val key = when(size(sorted) >= 2,
        concat(lit("sn:"), element_at(sorted, 1), lit("|"),
          substring(element_at(sorted, 2), 1, secondPrefixLen)))
      .otherwise(concat(lit("sn:"), element_at(sorted, 1)))
    when(name.isNull || cleaned === "", lit(null).cast("string")).otherwise(key)
  }

  /** B5 (exact variant): true w-sized sorted-neighborhood adjacency pairs
    * via a rank window. NOTE: the global orderBy ranks through a single
    * reducer — fine for tests/small dims; at scale prefer
    * [[sortedNeighborhoodKey]] (same recall target, shuffle-free keying).
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, nameCol: String, windowSize: Int = 3): DataFrame = {
    val sortKey = array_join(array_sort(split(trim(lower(col(nameCol))), "\\s+")), "")
    val ranked = df.select(col(idCol), sortKey.as("sn_sort_key"))
      .withColumn("rnk", row_number().over(Window.orderBy(col("sn_sort_key"), col(idCol))))
    val left = ranked.select(col(idCol).as("doc_id_a"), col("rnk").as("rnk_a"))
    val right = ranked.select(col(idCol).as("doc_id_b"), col("rnk").as("rnk_b"))
    left.join(right,
        col("rnk_b") > col("rnk_a") && col("rnk_b") <= col("rnk_a") + (windowSize - 1))
      .select(
        least(col("doc_id_a"), col("doc_id_b")).as("doc_id_a"),
        greatest(col("doc_id_a"), col("doc_id_b")).as("doc_id_b"))
      .distinct()
  }

  // ---------------------------------------------------------------------
  // B6: MinHash LSH. Rejected by the reference as overkill
  // (docs/adr/ADR-001-blocking-key-strategy.md:43) but mandated by the
  // north star. Hand-rolled with fixed coefficients so signatures are
  // deterministic across runs, languages and the DuckDB oracle.
  // ---------------------------------------------------------------------

  /** Large prime modulus for all rolling/affine hashes. All arithmetic
    * stays < 2^63: h < P ~ 2^30, a*h < 2^60.
    */
  val P: Long = 1000000007L

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands

  /** Affine coefficients (a_j, b_j), fixed/deterministic. */
  val Coef: IndexedSeq[(Long, Long)] =
    (0 until NumHashes).map { j =>
      ((1000003L * (2L * j + 1)) % P, (998244353L * j + 12345L) % P)
    }

  /** Rolling hash of a string column: fold (acc*31 + codepoint) % P over
    * its characters. Spark's split("", -1) keeps a trailing empty string;
    * the filter drops it (DuckDB's string_split does not emit one).
    */
  def rollingHash(c: Column): Column =
    aggregate(
      filter(split(c, ""), ch => length(ch) > 0),
      lit(0L),
      (acc, ch) => (acc * 31L + ascii(ch)) % P)

  /** Character 3-gram shingles (distinct); strings shorter than 3 chars
    * yield the whole string as a single shingle.
    */
  def shingles(c: Column, n: Int = 3): Column =
    when(length(c) >= n,
        array_distinct(transform(
          sequence(lit(1), length(c) - (n - 1)),
          i => c.substr(i, lit(n)))))
      .otherwise(array(c))

  /** Hashes of the distinct 3-gram shingles of a string column. */
  def shingleHashes(c: Column, n: Int = 3): Column =
    transform(shingles(c, n), sh => rollingHash(sh))

  /** 60-bit shingle hashes (two independent 30-bit families combined):
    * the shingle-set identity used by the near-dup VERIFY joins. Longs
    * intersect ~an order of magnitude faster than 3-char UTF8 strings
    * (primitive OpenHashSet, 8-byte elements through the shuffle), and
    * collision odds per pair are |A||B|/2^60 ~ 1e-13 — deterministic and
    * mirrored exactly by the DuckDB oracle, so a collision (if one ever
    * occurred) would still verify value-identically cross-engine.
    */
  def shingleHashes60(c: Column, n: Int = 3): Column =
    array_distinct(transform(shingles(c, n),
      sh => rollingHash(sh) * lit(1L << SimHashBits) + rollingHash2(sh)))

  /** MinHash signature from a PRE-MATERIALIZED shingle-hash array column.
    * Keep the shingle-hash array in its own projection (withColumn) — the
    * 16 per-permutation minima each reference that column, so the O(text)
    * hashing subtree is evaluated once per row, not 16x. Empty input ->
    * all P (sentinel).
    */
  def minhashSignatureFromHashes(hs: Column): Column = {
    val sigs = Coef.map { case (a, b) =>
      coalesce(
        array_min(transform(hs, h => (lit(a) * h + lit(b)) % P)),
        lit(P))
    }
    array(sigs: _*)
  }

  /** LSH band keys from a pre-materialized signature column: one key per
    * band, "lsh:<band>:<sig..sig>". Docs sharing any band key become join
    * candidates.
    */
  def bandKeysFromSignature(sig: Column): Column = {
    val keys = (0 until Bands).map { band =>
      val parts = (0 until RowsPerBand).map(r => element_at(sig, band * RowsPerBand + r + 1))
      concat(lit(s"lsh:$band:"), concat_ws("_", parts.map(_.cast("string")): _*))
    }
    array(keys: _*)
  }

  /** (doc_id, band_key) LSH key table for a text column — the native
    * one-pass kernel ([[MinhashKernel]]); produces exactly the keys of
    * [[minhashKeyTableHof]] (property-tested) without the per-shingle
    * allocation storm that made this stage GC-bound at high parallelism.
    */
  def minhashKeyTable(df: DataFrame, idCol: String, text: Column,
                      carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("doc_id") +: text.as("__t") +: carry.map(col): _*)
      .where(col("__t").isNotNull && length(col("__t")) > 0)
      .select(col("doc_id") +:
        explode(minhashBandKeyArray(col("__t"))).as("block_key") +: carry.map(col): _*)
      .select(col("block_key") +: col("doc_id") +: carry.map(col): _*)

  /** The native kernel's band-key array for a non-null, non-empty text
    * column — one row's keys of [[minhashKeyTable]].
    */
  def minhashBandKeyArray(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(MinhashBandKeysExpr(Bridge.expression(text)))
  }

  /** The staged higher-order-function formulation of [[minhashKeyTable]]
    * (shingle-hash -> signature -> band-key, each stage its own
    * projection). Kept as the executable spec the native kernel is
    * property-tested against, and as the template the DuckDB oracle SQL
    * mirrors ([[graft.oracle.OracleSql.minhashBandKeysList]]).
    */
  def minhashKeyTableHof(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(col(idCol).as("doc_id"), text.as("__t"))
      .where(col("__t").isNotNull && length(col("__t")) > 0)
      .withColumn("__sh", shingleHashes(col("__t")))
      .withColumn("__sig", minhashSignatureFromHashes(col("__sh")))
      .select(col("doc_id"), explode(bandKeysFromSignature(col("__sig"))).as("block_key"))
      .select(col("block_key"), col("doc_id"))

  /** Convenience single-expression forms (small inputs / tests only —
    * they duplicate the hashing subtree per signature element; use the
    * staged [[minhashKeyTable]] in pipelines).
    */
  def minhashSignature(c: Column): Column = minhashSignatureFromHashes(shingleHashes(c))
  def minhashBandKeys(c: Column): Column =
    when(c.isNull || length(c) === 0, array().cast("array<string>"))
      .otherwise(bandKeysFromSignature(minhashSignature(c)))

  /** SimHash half-width (each rolling hash carries ~30 bits of entropy —
    * values are mod P ~ 2^30 — so one hash family can vote on at most 30
    * bits; the full fingerprint concatenates two independent halves).
    */
  val SimHashBits = 30

  /** Full SimHash fingerprint width: two independent 30-bit halves
    * (rollingHash base 31 mod P, rollingHash2 base 131 mod P2)
    * concatenated. 60 bits splits into [[SimHashBands]] disjoint 15-bit
    * bands: by pigeonhole, any pair at hamming distance <= SimHashBands-1
    * = 3 agrees on at least one whole band and is GUARANTEED to become a
    * band-join candidate; larger `maxHamming` requests are best-effort.
    */
  val SimHashTotalBits = 2 * SimHashBits
  val SimHashBands = 4
  val SimHashBandBits: Int = SimHashTotalBits / SimHashBands

  /** Second independent prime modulus / base for the simhash high half. */
  val P2: Long = 998244353L

  /** Second rolling hash family: fold (acc*131 + codepoint) % P2. */
  def rollingHash2(c: Column): Column =
    aggregate(
      filter(split(c, ""), ch => length(ch) > 0),
      lit(0L),
      (acc, ch) => (acc * 131L + ascii(ch)) % P2)

  /** 30-bit SimHash half from a PRE-MATERIALIZED token-hash array column
    * (same staging rationale as [[minhashSignatureFromHashes]]): per-token
    * hashes vote +1/-1 on each bit; the fingerprint sets bits with
    * positive votes.
    */
  def simhashFromHashes(th: Column): Column = {
    val bitTerms = (0 until SimHashBits).map { bit =>
      val vote = aggregate(th, lit(0L),
        (acc, h) => acc + (shiftright(h, bit).cast("long") % 2L) * 2L - 1L)
      when(vote > 0, lit(1L << bit)).otherwise(lit(0L))
    }
    bitTerms.reduce(_ + _)
  }

  /** 60-bit fingerprint from the two PRE-MATERIALIZED token-hash arrays:
    * high half (rollingHash2 votes) << 30 | low half (rollingHash votes).
    * This staged HOF form is the executable spec the native kernel is
    * property-tested against; pipelines should use [[simhash60]].
    */
  def simhash60FromHashes(th1: Column, th2: Column): Column =
    simhashFromHashes(th2) * lit(1L << SimHashBits) + simhashFromHashes(th1)

  /** Native one-pass 60-bit fingerprint of a raw text column
    * ([[SimhashKernel]]): tokenizes, hashes both families and votes all
    * 60 bits as the bytes stream by — the HOF form walks the token-hash
    * array once per bit (60 traversals) plus a split allocation per
    * rolling hash.
    */
  def simhash60(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(Simhash60Expr(Bridge.expression(text)))
  }

  /** The [[SimHashBands]] disjoint 15-bit band keys of a 60-bit
    * fingerprint column ("b<i>:<value>"). Mirrored by the DuckDB oracle;
    * both sides compute value = (fp >> 15*i) mod 2^15 (fp >= 0, so
    * arithmetic shift == logical).
    */
  def simhashBandKeys(fp: Column): Column = {
    val mask = (1L << SimHashBandBits) - 1
    array((0 until SimHashBands).map { i =>
      concat(lit(s"b$i:"), (shiftright(fp, i * SimHashBandBits) % lit(mask + 1)).cast("string"))
    }: _*)
  }

  def tokenHashes(tokensCol: Column): Column = transform(tokensCol, t => rollingHash(t))
  def tokenHashes2(tokensCol: Column): Column = transform(tokensCol, t => rollingHash2(t))

  /** Single-expression form (tests only; duplicates token hashing 30x). */
  def simhash(tokensCol: Column): Column = simhashFromHashes(tokenHashes(tokensCol))

  /** Explode a key-array column into the central (block_key, doc_id)
    * table. At cluster scale this table is what gets bucketed/partitioned
    * by block_key (SURVEY.md §4).
    */
  def explodeKeys(df: DataFrame, idCol: String, keysCol: Column,
                  carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("doc_id") +: explode(keysCol).as("block_key") +:
        carry.map(col): _*)
      .select(col("block_key") +: col("doc_id") +: carry.map(col): _*)
}
