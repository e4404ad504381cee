package graft

/** DuckDB-SQL replica of Spark's `xxhash64` (XXH64, seed 42) and the
  * oracle builders for the two hash-sketch dedup operators.
  *
  * Why this exists: `dedup_minhash` and `dedup_simhash` output values
  * derived from XXH64 token/shingle hashes, so a DuckDB oracle must
  * reproduce XXH64 bit-exactly or not verify them at all. XXH64 is a
  * public specification (xxHash, BSD-2) implementable with 128-bit
  * integer arithmetic: all values live in HUGEINT `[0, 2^64)`, 64-bit
  * wrap-around multiplication is decomposed into 32-bit limbs, and the
  * whole mixing schedule (32-byte accumulator blocks, merge, 8/4/1-byte
  * tail, avalanche) is flattened into ONE `list_reduce` over a uniform
  * op list.
  *
  * Two DuckDB-1.0 quirks shape the generated SQL:
  *  - every op list is PADDED to a fixed length with no-op entries:
  *    `list_reduce` mis-scatters results across rows when list lengths
  *    vary within a vector batch (verified empirically — 5-byte tokens
  *    receiving 3-byte tokens' hashes);
  *  - hashes are computed for DISTINCT strings only and joined back,
  *    both for speed and to keep the reduce batches small.
  */
object OracleXX {
  private val P1 = java.lang.Long.parseUnsignedLong("9E3779B185EBCA87", 16)
  private val P2 = java.lang.Long.parseUnsignedLong("C2B2AE3D27D4EB4F", 16)
  private val P3 = java.lang.Long.parseUnsignedLong("165667B19E3779F9", 16)
  private val P4 = java.lang.Long.parseUnsignedLong("85EBCA77C2B2AE63", 16)
  private val P5 = java.lang.Long.parseUnsignedLong("27D4EB2F165667C5", 16)
  /** Unsigned decimal rendering of a Long holding a u64. */
  private def u(l: Long): String = java.lang.Long.toUnsignedString(l)
  private val M = "18446744073709551616::HUGEINT" // 2^64

  private def mask(x: String) = s"(($x) % $M)"
  private def mul64(a: String, b: String) =
    s"(((($a)%4294967296)*(($b)%4294967296) + " +
    s"((((($a)//4294967296)*(($b)%4294967296))%4294967296) + " +
    s"(((($a)%4294967296)*(($b)//4294967296))%4294967296))*4294967296) % $M)"
  private def rotl(x: String, r: Int) =
    s"((($x)*${BigInt(2).pow(r)}::HUGEINT + ($x)//${BigInt(2).pow(64 - r)}::HUGEINT) % $M)"
  private def shr(x: String, r: Int) = s"(($x)//${BigInt(2).pow(r)}::HUGEINT)"
  private def xor64(a: String, b: String) = s"xor(($a), ($b))"
  private def vround(acc: String, lane: String) =
    mask(mul64(rotl(mask(s"($acc) + ${mul64(lane, s"${u(P2)}::HUGEINT")}"), 31), s"${u(P1)}::HUGEINT"))

  private val pow256 =
    (0 until 8).map(m => s"${BigInt(256).pow(m)}::HUGEINT").mkString("[", ", ", "]")
  private def lane8(off: String) =
    s"(list_aggregate(list_transform(range(0, 8), m -> " +
    s"list_extract(bl, ($off)+m+1) * ($pow256)[m+1]), 'sum'))::HUGEINT"
  private def lane4(off: String) =
    s"(list_aggregate(list_transform(range(0, 4), m -> " +
    s"list_extract(bl, ($off)+m+1) * ($pow256)[m+1]), 'sum'))::HUGEINT"

  /** XXH64 over a byte-list expression (lambda-bound as `bl`) with a seed
    * expression (bound as `sd`); result HUGEINT in [0, 2^64). `padLen`
    * must be ≥ the op count for the longest input this instance hashes
    * (ops ≈ n/32 blocks + 5 + stripes + 1 + tail + 5). */
  def xxh64Core(blExpr: String, seedExpr: String, padLen: Int): String = {
    val N = "len(bl)"
    val Z = "0::HUGEINT"
    def op(t: Int, v: String = Z, w: String = Z, x: String = Z, y: String = Z) =
      s"{'t': $t, 'v': ($v), 'w': ($w), 'x': ($x), 'y': ($y), 'h': 0::HUGEINT}"
    val blocks = s"list_transform(range(0, ($N)//32), q -> " +
      op(0, lane8("32*q"), lane8("32*q+8"), lane8("32*q+16"), lane8("32*q+24")) + ")"
    val converge =
      s"(CASE WHEN ($N) >= 32 THEN [${op(1)}, ${op(2)}, ${op(3)}, ${op(4)}, ${op(5)}] " +
      s"ELSE [${op(6, mask(s"sd + ${u(P5)}::HUGEINT"))}] END)"
    val addlen = s"[${op(7, s"($N)::HUGEINT")}]"
    val p0 = s"32*(($N)//32)"
    val stripes = s"list_transform(range(0, (($N)%32)//8), k -> " +
      op(8, lane8(s"$p0 + 8*k")) + ")"
    val p1 = s"($p0 + 8*((($N)%32)//8))"
    val four = s"(CASE WHEN ($N)%8 >= 4 THEN [${op(9, lane4(p1))}] ELSE [] END)"
    val tail = s"list_transform(list_slice(bl, ($p1) + (CASE WHEN ($N)%8 >= 4 THEN 4 ELSE 0 END) + 1, ($N)), tb -> " +
      op(10, "tb") + ")"
    val aval = s"[${op(11)}, ${op(12)}, ${op(13)}, ${op(14)}, ${op(15)}]"
    val ops0 = s"list_concat(list_concat(list_concat($blocks, $converge), " +
      s"list_concat($addlen, $stripes)), " +
      s"list_concat(list_concat($four, $tail), $aval))"
    // uniform-length padding (see scaladoc) — t=99 is a no-op in the step.
    // An op list LONGER than padLen would silently re-expose the
    // variable-length mis-scatter, so over-length inputs fail loudly.
    val ops = s"list_extract(list_transform([$ops0], oo -> " +
      s"CASE WHEN len(oo) > $padLen " +
      s"THEN error('xxh64 oracle: input needs ' || len(oo) || ' ops but padLen=$padLen') " +
      s"ELSE list_concat(oo, " +
      s"list_transform(range(0, $padLen - len(oo)), zz -> ${op(99)})) END), 1)"
    val init =
      s"{'t': -1, 'v': ${mask(s"sd + ${u(P1 + P2)}::HUGEINT")}, " +
      s"'w': ${mask(s"sd + ${u(P2)}::HUGEINT")}, " +
      s"'x': (sd), " +
      s"'y': ${mask(s"sd + ${u(-P1)}::HUGEINT")}, " +
      s"'h': 0::HUGEINT}"
    val (a, b, c, d, h) = ("(acc.v)", "(acc.w)", "(acc.x)", "(acc.y)", "(acc.h)")
    val fa = s"(CASE WHEN op.t = 0 THEN ${vround(a, "(op.v)")} ELSE $a END)"
    val fb = s"(CASE WHEN op.t = 0 THEN ${vround(b, "(op.w)")} ELSE $b END)"
    val fc = s"(CASE WHEN op.t = 0 THEN ${vround(c, "(op.x)")} ELSE $c END)"
    val fd = s"(CASE WHEN op.t = 0 THEN ${vround(d, "(op.y)")} ELSE $d END)"
    def round0(v: String) = mask(mul64(rotl(mul64(v, s"${u(P2)}::HUGEINT"), 31), s"${u(P1)}::HUGEINT"))
    def merge(v: String) = mask(mul64(xor64(h, round0(v)), s"${u(P1)}::HUGEINT") + s" + ${u(P4)}::HUGEINT")
    val fh = "(CASE op.t " +
      s"WHEN 1 THEN ${mask(rotl(a, 1) + " + " + rotl(b, 7) + " + " + rotl(c, 12) + " + " + rotl(d, 18))} " +
      s"WHEN 2 THEN ${merge(a)} " +
      s"WHEN 3 THEN ${merge(b)} " +
      s"WHEN 4 THEN ${merge(c)} " +
      s"WHEN 5 THEN ${merge(d)} " +
      s"WHEN 6 THEN (op.v) " +
      s"WHEN 7 THEN ${mask(h + " + (op.v)")} " +
      s"WHEN 8 THEN ${mask(mul64(rotl(xor64(h, round0("(op.v)")), 27), s"${u(P1)}::HUGEINT") + s" + ${u(P4)}::HUGEINT")} " +
      s"WHEN 9 THEN ${mask(mul64(rotl(xor64(h, mul64("(op.v)", s"${u(P1)}::HUGEINT")), 23), s"${u(P2)}::HUGEINT") + s" + ${u(P3)}::HUGEINT")} " +
      s"WHEN 10 THEN ${mask(mul64(rotl(xor64(h, mul64("(op.v)", s"${u(P5)}::HUGEINT")), 11), s"${u(P1)}::HUGEINT"))} " +
      s"WHEN 11 THEN ${xor64(h, shr(h, 33))} " +
      s"WHEN 12 THEN ${mul64(h, s"${u(P2)}::HUGEINT")} " +
      s"WHEN 13 THEN ${xor64(h, shr(h, 29))} " +
      s"WHEN 14 THEN ${mul64(h, s"${u(P3)}::HUGEINT")} " +
      s"WHEN 15 THEN ${xor64(h, shr(h, 32))} " +
      s"ELSE $h END)"
    val step = s"{'t': -1, 'v': $fa, 'w': $fb, 'x': $fc, 'y': $fd, 'h': ($fh)::HUGEINT}"
    val expr = s"(list_reduce(list_prepend($init, $ops), (acc, op) -> $step)).h"
    val bound = s"list_extract(list_transform([($blExpr)], bl -> $expr), 1)"
    s"list_extract(list_transform([($seedExpr)::HUGEINT], sd -> $bound), 1)"
  }

  /** Byte-list expr (HUGEINT 0..255) of the UTF-8 bytes of string expr S. */
  def bytesOf(s: String): String =
    s"list_transform(range(0, octet_length(encode($s))), i -> " +
    s"(strpos('123456789ABCDEF', substr(hex(encode($s)), 2*i+1, 1))*16 + " +
    s"strpos('123456789ABCDEF', substr(hex(encode($s)), 2*i+2, 1)))::HUGEINT)"

  /** Unsigned XXH64 of a string expression (= Spark `xxhash64(col)`). */
  def xxh64Str(s: String, seed: String = "42", padLen: Int = 48): String =
    xxh64Core(bytesOf(s), seed, padLen)

  /** Unsigned XXH64 of a BIGINT expression hashed as its 8-byte
    * little-endian encoding (= Spark `xxhash64(longCol)`). Handles negative
    * longs via two's-complement conversion to the unsigned byte space. */
  def xxh64Long(l: String, seed: String = "42", padLen: Int = 16): String = {
    val lu = s"(CASE WHEN ($l) < 0 THEN ($l)::HUGEINT + $M ELSE ($l)::HUGEINT END)"
    val bl = (0 until 8).map(m =>
      s"(($lu // ${BigInt(256).pow(m)}::HUGEINT) % 256)").mkString("[", ", ", "]")
    xxh64Core(bl, seed, padLen)
  }

  /** Wrap an unsigned-HUGEINT hash expression back to Spark's SIGNED hash
    * and floor-mod it by `m` — `u mod m` and `floorMod(u - 2^64, m)`
    * differ, so the conversion must precede the mod. Shared by the long
    * and string pmod replicas. */
  private def pmodWrap(h: String, m: Long): String =
    s"""list_extract(list_transform([($h)], hu ->
          (CASE WHEN hu >= 9223372036854775808::HUGEINT
                THEN ((hu - $M) % $m + $m) % $m
                ELSE hu % $m END)::BIGINT), 1)"""

  /** Signed Spark-style `pmod(xxhash64(longCol), m)` as SQL. */
  def xxh64LongPmod(l: String, m: Long, seed: String = "42"): String =
    pmodWrap(xxh64Long(l, seed), m)

  /** Spark's SIGNED `xxhash64(longCol)` value itself as BIGINT (the raw
    * hash, no mod) — the list trick evaluates the HUGEINT hash once. */
  def xxh64LongSigned(l: String, seed: String = "42"): String =
    s"""list_extract(list_transform([(${xxh64Long(l, seed)})], hu ->
          (CASE WHEN hu >= 9223372036854775808::HUGEINT
                THEN hu - $M ELSE hu END)::BIGINT), 1)"""

  /** Signed Spark-style `pmod(xxhash64(strCol), m)` as SQL — the string
    * twin of [[xxh64LongPmod]]. */
  def xxh64StrPmod(s: String, m: Long, seed: String = "42",
                   padLen: Int = 48): String =
    pmodWrap(xxh64Str(s, seed, padLen), m)

  /** Bind `e` to lambda var `v` so `body` can reference it any number of
    * times with linear (not exponential) SQL text and evaluation. */
  private def bind1(e: String, v: String, body: String): String =
    s"list_extract(list_transform([($e)], $v -> $body), 1)"

  /** Unsigned-HUGEINT replica of [[graft.functions.Mix64]]:
    * `mix(seed + key * GAMMA)` with splitmix64's 3-multiply avalanche.
    * ~1 KB of direct arithmetic per call (each intermediate lambda-bound
    * once) vs the ~60 KB `list_reduce` xxh64 replica it replaces in the
    * per-position selection oracles — the round-9 gate-budget fix. */
  def mix64(l: String, seed: Long): String = {
    val gamma = s"${u(graft.functions.Mix64.Gamma)}::HUGEINT"
    val c1 = s"${u(graft.functions.Mix64.C1)}::HUGEINT"
    val c2 = s"${u(graft.functions.Mix64.C2)}::HUGEINT"
    val seedU = s"${u(seed)}::HUGEINT"
    val ku = s"(CASE WHEN ($l) < 0 THEN ($l)::HUGEINT + $M ELSE ($l)::HUGEINT END)"
    bind1(ku, "ku",
      bind1(mask(s"$seedU + ${mul64("ku", gamma)}"), "z0",
        bind1(mul64(xor64("z0", shr("z0", 30)), c1), "z1",
          bind1(mul64(xor64("z1", shr("z1", 27)), c2), "z2",
            xor64("z2", shr("z2", 31))))))
  }

  /** Signed Spark-style `pmod(mix64(longCol, seed), m)` as SQL. */
  def mix64Pmod(l: String, m: Long, seed: Long): String =
    pmodWrap(mix64(l, seed), m)

  /** Spark's SIGNED `mix64(longCol, seed)` value itself as BIGINT (raw
    * hash, no mod) — the sample-ranking key the bottom-k quantile sketch
    * oracle sorts by (Spark's heap compares signed longs). */
  def mix64Signed(l: String, seed: Long): String =
    s"""list_extract(list_transform([(${mix64(l, seed)})], hu ->
          (CASE WHEN hu >= 9223372036854775808::HUGEINT
                THEN hu - $M ELSE hu END)::BIGINT), 1)"""

  private val pow2 =
    (0 until 64).map(b => s"${BigInt(2).pow(b)}::HUGEINT").mkString("[", ", ", "]")
  private val sqlToks =
    """string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')"""

  /** DuckDB replica of `TextAnalysis.hllCardinality` over
    * `documents(lang, text)`: 3-word shingles → XXH64 → HyperLogLog
    * registers (bucket = top p hash bits, register = max leading-zero rank
    * of the suffix) → md5 register fingerprint + exact-integer harmonic
    * denominator + the raw estimate. The denominator is `sum(2^(64-reg))`
    * in HUGEINT — exact — and the estimate's double arithmetic mirrors the
    * engine's expression tree operand-for-operand (every literal cast
    * ::DOUBLE — DuckDB parses bare decimals as DECIMAL), so even the
    * floating result is bit-identical. */
  /** Shared shingle-hash CTE chain ending in `hl(lang, h)` — h UNSIGNED
    * HUGEINT XXH64 of each DISTINCT (lang, 3-shingle). The unsigned value
    * is the same mod-2^64 residue as Spark's signed hash, which is all the
    * splitmix64 stream arithmetic sees. */
  private def shingleHashCtes: String = {
    val xx = xxh64Str("s", padLen = 20)
    s"""t AS (SELECT lang, $sqlToks AS tk FROM documents),
      sh3 AS (SELECT lang, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(range(1, len(tk) - 1),
                        i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END AS hs
              FROM t),
      ds AS (SELECT DISTINCT lang, unnest(hs) AS s FROM sh3),
      dh AS MATERIALIZED (SELECT s, $xx AS h FROM (SELECT DISTINCT s FROM ds)),
      hl AS MATERIALIZED (SELECT lang, h FROM ds JOIN dh USING (s))"""
  }

  /** DuckDB replica of `TextAnalysis.bloomSketchWords` + `bloomReport`
    * over `documents(lang, text)`: per-lang distinct shingle hashes → k
    * splitmix64 bit positions each → 64-bit words (HUGEINT bit sums
    * wrapped to signed) → md5 fingerprint over the FULL word array +
    * set-bit count. Bit-exact: position math is the mix64Pmod stream the
    * engine aggregate runs, and OR/distinct are order-independent. */
  def bloomSketchOracle(numBits: Int, numHashes: Int): String = {
    val nWords = numBits / 64
    val pow2a = (0 to 63).map(k => s"${BigInt(2).pow(k)}::HUGEINT")
      .mkString("[", ", ", "]")
    val posSelects = (0 until numHashes).map { j =>
      s"SELECT lang, ${mix64Pmod("h", numBits.toLong, seed = j.toLong)} AS pos FROM hl"
    }.mkString("\n        UNION ALL ")
    s"""
      WITH $shingleHashCtes,
      ps AS MATERIALIZED (SELECT DISTINCT lang, pos FROM (
        $posSelects)),
      nb AS (SELECT lang, count(*)::BIGINT AS n_set_bits FROM ps GROUP BY 1),
      wd0 AS (SELECT lang, (pos // 64)::BIGINT AS w,
                sum(($pow2a)[(pos % 64) + 1]) AS raw
              FROM ps GROUP BY 1, 2),
      wd AS (SELECT lang, w,
               (CASE WHEN raw >= 9223372036854775808::HUGEINT
                     THEN raw - $M ELSE raw END)::BIGINT AS word
             FROM wd0),
      langs AS (SELECT DISTINCT lang FROM documents),
      grid AS (SELECT unnest(range(0, $nWords))::BIGINT AS w),
      fw AS (SELECT l.lang, g.w, coalesce(wd.word, 0)::BIGINT AS word
             FROM langs l CROSS JOIN grid g
             LEFT JOIN wd ON wd.lang = l.lang AND wd.w = g.w),
      fp AS (SELECT lang, md5(string_agg(word::VARCHAR, ',' ORDER BY w))
               AS words_md5
             FROM fw GROUP BY 1)
      SELECT f.lang, $numBits::BIGINT AS m_bits, $numHashes::BIGINT AS k_hashes,
             f.words_md5, nb.n_set_bits
      FROM fp f JOIN nb USING (lang) ORDER BY lang"""
  }

  /** DuckDB replica of `TextAnalysis.bloomDecontaminate` on the
    * bench-below-20 fixture: benchmark bit-position set, corpus shingles
    * "hit" iff ALL k of their positions are set (count of DISTINCT j
    * matching = k — two streams of one hash may collide on a position,
    * so the count is over j, not positions), exact overlay via plain
    * membership. */
  def bloomDecontaminateOracle(numBits: Int, numHashes: Int): String = {
    val xx = xxh64Str("s", padLen = 20)
    def posSelects(src: String, cols: String) = (0 until numHashes).map { j =>
      s"SELECT $cols, $j AS j, ${mix64Pmod("h", numBits.toLong, seed = j.toLong)} AS pos FROM $src"
    }.mkString("\n        UNION ALL ")
    s"""
      WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh3 AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(range(1, len(tk) - 1),
                        i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END AS hs
              FROM t),
      ds AS (SELECT DISTINCT doc_id, unnest(hs) AS s FROM sh3),
      dh AS MATERIALIZED (SELECT s, $xx AS h FROM (SELECT DISTINCT s FROM ds)),
      benchh AS MATERIALIZED (
        SELECT DISTINCT h FROM ds JOIN dh USING (s) WHERE doc_id < 20),
      corph AS MATERIALIZED (
        SELECT DISTINCT doc_id, h FROM ds JOIN dh USING (s) WHERE doc_id >= 20),
      bps AS MATERIALIZED (SELECT DISTINCT pos FROM (
        ${posSelects("benchh", "h")})),
      cpos AS (${posSelects("corph", "doc_id, h")}),
      hith AS (SELECT doc_id, h FROM cpos
               WHERE pos IN (SELECT pos FROM bps)
               GROUP BY doc_id, h HAVING count(DISTINCT j) = $numHashes),
      bh AS (SELECT doc_id, count(*)::BIGINT AS bloom_hits FROM hith GROUP BY 1),
      ns AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM corph GROUP BY 1),
      ex AS (SELECT doc_id, count(*)::BIGINT AS exact_hits FROM corph
             WHERE h IN (SELECT h FROM benchh) GROUP BY 1)
      SELECT ns.doc_id, ns.n_shingles,
             coalesce(bh.bloom_hits, 0)::BIGINT AS bloom_hits,
             coalesce(ex.exact_hits, 0)::BIGINT AS exact_hits
      FROM ns LEFT JOIN bh USING (doc_id) LEFT JOIN ex USING (doc_id)
      ORDER BY ns.doc_id"""
  }

  def hllOracle(p: Int): String = {
    val m = 1 << p
    val pow2a = (0 to 64).map(k => s"${BigInt(2).pow(k)}::HUGEINT")
      .mkString("[", ", ", "]")
    s"""
      WITH ${hllRegisterCtes(p)},
      agg AS (SELECT lang,
                md5(string_agg(reg::VARCHAR, ',' ORDER BY bucket)) AS regs_md5,
                sum(CASE WHEN reg > 0 THEN 1 ELSE 0 END)::INT AS nonzero_regs,
                sum(($pow2a)[65 - reg])::HUGEINT AS denom
              FROM reg_full GROUP BY lang),
      ex AS (SELECT lang, count(DISTINCT s)::BIGINT AS n_exact FROM ds GROUP BY lang)
      SELECT a.lang, $m::INT AS m, a.regs_md5, a.nonzero_regs,
             a.denom::VARCHAR AS denom_str,
             0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / ${m}.0::DOUBLE) *
               ${m.toLong * m}.0::DOUBLE * pow(2.0::DOUBLE, 64.0::DOUBLE) /
               a.denom::DOUBLE AS est_raw,
             e.n_exact
      FROM agg a JOIN ex e USING (lang) ORDER BY lang"""
  }

  /** DuckDB replica of the events-side HLL DAU report: distinct (day,
    * user) pairs, each distinct user hashed ONCE with the 8-byte-input
    * XXH64 replica (= Spark `xxhash64(user_id)`), the same bucket/rho
    * register construction as the shingle oracle, per-day fingerprint +
    * exact overlay. */
  def hllDauOracle(p: Int): String = hllUserBucketOracle(p, 86400000L, "day")

  /** Generalized form of [[hllDauOracle]]: distinct users per
    * `bucketMs`-wide epoch bucket (day = 86400000, hour = 3600000),
    * bucket column named `alias`. */
  def hllUserBucketOracle(p: Int, bucketMs: Long, alias: String): String = {
    val m = 1 << p
    val bits = 64 - p
    val pow2a = (0 to 64).map(k => s"${BigInt(2).pow(k)}::HUGEINT")
      .mkString("[", ", ", "]")
    val xx = xxh64Long("user_id", padLen = 16)
    s"""
      WITH ev AS MATERIALIZED (
        SELECT DISTINCT epoch_ms(ts) // $bucketMs AS $alias, user_id FROM events),
      -- bucket and rho are functions of the HASH alone, so they are
      -- computed once per distinct user (|users| rows) and joined onto
      -- the (bucket-window, user) stream — not recomputed per window row
      -- (720 hourly windows made the naive form an 8 s oracle)
      du AS MATERIALIZED (
        SELECT user_id,
               (h // ($pow2a)[$bits + 1])::INT AS bucket,
               (1 + list_aggregate(list_transform(range(0, $bits), b ->
                  CASE WHEN h % ($pow2a)[$bits + 1] < ($pow2a)[b + 1]
                       THEN 1 ELSE 0 END), 'sum'))::INT AS rho
        FROM (SELECT user_id, $xx AS h
              FROM (SELECT DISTINCT user_id FROM ev))),
      br AS (SELECT $alias, bucket, rho FROM ev JOIN du USING (user_id)),
      rg AS (SELECT $alias, bucket, max(rho) AS reg FROM br GROUP BY $alias, bucket),
      days AS (SELECT DISTINCT $alias FROM ev),
      reg_full AS (SELECT d.$alias, gs.bucket, coalesce(rg.reg, 0) AS reg
                   FROM days d
                   CROSS JOIN (SELECT unnest(range(0, $m))::INT AS bucket) gs
                   LEFT JOIN rg ON rg.$alias = d.$alias AND rg.bucket = gs.bucket),
      agg AS (SELECT $alias,
                md5(string_agg(reg::VARCHAR, ',' ORDER BY bucket)) AS regs_md5,
                sum(CASE WHEN reg > 0 THEN 1 ELSE 0 END)::INT AS nonzero_regs,
                sum(($pow2a)[65 - reg])::HUGEINT AS denom
              FROM reg_full GROUP BY $alias),
      ex AS (SELECT $alias, count(*)::BIGINT AS n_exact FROM ev GROUP BY $alias)
      SELECT a.$alias, $m::INT AS m, a.regs_md5, a.nonzero_regs,
             a.denom::VARCHAR AS denom_str,
             0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / ${m}.0::DOUBLE) *
               ${m.toLong * m}.0::DOUBLE * pow(2.0::DOUBLE, 64.0::DOUBLE) /
               a.denom::DOUBLE AS est_raw,
             e.n_exact
      FROM agg a JOIN ex e USING ($alias) ORDER BY $alias"""
  }

  /** DuckDB replica of `TextAnalysis.hllIntersectReport`: the shared
    * register chain, pairwise element-wise-max unions, the identical
    * double expression tree per estimate, inclusion–exclusion, and the
    * exact distinct-shingle intersection overlay. */
  def hllIntersectOracle(p: Int): String = {
    val m = 1 << p
    val pow2a = (0 to 64).map(k => s"${BigInt(2).pow(k)}::HUGEINT")
      .mkString("[", ", ", "]")
    def est(x: String) =
      s"""(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / ${m}.0::DOUBLE) *
          ${m.toLong * m}.0::DOUBLE * pow(2.0::DOUBLE, 64.0::DOUBLE) /
          ($x)::DOUBLE)"""
    s"""
      WITH ${hllRegisterCtes(p)},
      pr AS (SELECT a.lang AS g_a, b.lang AS g_b
             FROM langs a JOIN langs b ON a.lang < b.lang),
      ru AS (SELECT p.g_a, p.g_b, fa.reg AS ra, fb.reg AS rb,
               greatest(fa.reg, fb.reg) AS rgu
             FROM pr p
             JOIN reg_full fa ON fa.lang = p.g_a
             JOIN reg_full fb ON fb.lang = p.g_b AND fb.bucket = fa.bucket),
      dn AS (SELECT g_a, g_b,
               sum(($pow2a)[65 - ra])::HUGEINT AS da,
               sum(($pow2a)[65 - rb])::HUGEINT AS db,
               sum(($pow2a)[65 - rgu])::HUGEINT AS du
             FROM ru GROUP BY 1, 2),
      ex AS (SELECT g_a, g_b, count(*)::BIGINT AS n_exact_intersect FROM (
               SELECT DISTINCT a.lang AS g_a, b.lang AS g_b, a.s
               FROM ds a JOIN ds b ON a.s = b.s AND a.lang < b.lang)
             GROUP BY 1, 2)
      SELECT d.g_a, d.g_b,
             ${est("d.da")} AS est_a, ${est("d.db")} AS est_b,
             ${est("d.du")} AS est_union,
             ${est("d.da")} + ${est("d.db")} - ${est("d.du")} AS est_intersect,
             coalesce(e.n_exact_intersect, 0)::BIGINT AS n_exact_intersect
      FROM dn d LEFT JOIN ex e USING (g_a, g_b) ORDER BY g_a, g_b"""
  }

  /** Register merge is exact sketch algebra (element-wise max is
    * associative/commutative), so the per-lang registers ARE the merged
    * per-(lang, source) registers — the oracle computes them once and the
    * engine must land on the same fingerprint via BOTH routes. */
  def hllRollupOracle(p: Int): String = {
    val m = 1 << p
    s"""
      WITH ${hllRegisterCtes(p)},
      agg AS (SELECT lang,
                md5(string_agg(reg::VARCHAR, ',' ORDER BY bucket)) AS regs_md5,
                sum(CASE WHEN reg > 0 THEN 1 ELSE 0 END)::INT AS nonzero_regs
              FROM reg_full GROUP BY lang)
      SELECT lang, $m::INT AS m, regs_md5 AS merged_md5,
             regs_md5 AS direct_md5, true AS merged_eq_direct, nonzero_regs
      FROM agg ORDER BY lang"""
  }

  /** Shared per-lang HLL register CTE chain (`reg_full(lang, bucket, reg)`
    * zero-filled over all 2^p buckets, plus `ds(lang, s)` distinct
    * shingles). */
  private def hllRegisterCtes(p: Int): String = {
    val m = 1 << p
    val bits = 64 - p
    // (pow2a)[k+1] = 2^k, k in [0, 64]
    val pow2a = (0 to 64).map(k => s"${BigInt(2).pow(k)}::HUGEINT")
      .mkString("[", ", ", "]")
    val xx = xxh64Str("s", padLen = 20)
    s"""t AS (SELECT lang, $sqlToks AS tk FROM documents),
      sh3 AS (SELECT lang, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(range(1, len(tk) - 1),
                        i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END AS hs
              FROM t),
      ds AS (SELECT DISTINCT lang, unnest(hs) AS s FROM sh3),
      -- bucket = top p bits; rho = 1 + leading zeros of the $bits-bit suffix,
      -- counted as |{b in [0, $bits) : suffix < 2^b}| (suffix bitlen
      -- complement). bucket and rho are functions of the HASH alone, so
      -- they are computed ONCE per distinct shingle here and joined onto
      -- the (lang, shingle) stream — the 56-element rho fold per (lang,
      -- shingle) row made the naive form a 10+ s oracle at sf0.01, past
      -- the compare budget (the hllUserBucketOracle lesson, applied to
      -- the shingle chain)
      dh AS MATERIALIZED (SELECT s,
               (h // ($pow2a)[$bits + 1])::INT AS bucket,
               (1 + list_aggregate(list_transform(range(0, $bits), b ->
                  CASE WHEN h % ($pow2a)[$bits + 1] < ($pow2a)[b + 1]
                       THEN 1 ELSE 0 END), 'sum'))::INT AS rho
             FROM (SELECT s, $xx AS h FROM (SELECT DISTINCT s FROM ds))),
      br AS (SELECT lang, bucket, rho FROM ds JOIN dh USING (s)),
      rg AS (SELECT lang, bucket, max(rho) AS reg FROM br GROUP BY lang, bucket),
      langs AS (SELECT DISTINCT lang FROM documents),
      reg_full AS (SELECT l.lang, gs.bucket, coalesce(rg.reg, 0) AS reg
                   FROM langs l
                   CROSS JOIN (SELECT unnest(range(0, $m))::INT AS bucket) gs
                   LEFT JOIN rg ON rg.lang = l.lang AND rg.bucket = gs.bucket)"""
  }

  /** DuckDB replica of `TextAnalysis.heavyHitters` over `documents(text)`:
    * every token occurrence hashed into `depth` Count-Min cells with
    * Spark's chained-seed `pmod(xxhash64(j, token), width)`, per-cell
    * counts summed, per-token estimate = min over its cells, candidates
    * thresholded at `minCount`, then exactly re-counted. All-integer, so
    * the replica is bit-exact (sums and mins are order-independent). */
  def cmsOracle(depth: Int, width: Int, minCount: Long): String = {
    val seeds = (0 until depth)
      .map(j => u(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(j.toLong, 42L)))
      .map(s => s + "::HUGEINT").mkString("[", ", ", "]")
    val cell = xxh64StrPmod("tok", width.toLong, seed = s"($seeds)[j+1]", padLen = 20)
    s"""
      WITH w AS (SELECT unnest($sqlToks) AS tok FROM documents),
      tk AS (SELECT tok FROM w WHERE tok <> ''),
      dt AS (SELECT DISTINCT tok FROM tk),
      cl AS MATERIALIZED (
        SELECT tok, j, $cell AS cell
        FROM dt CROSS JOIN (SELECT unnest(range(0, $depth)) AS j)),
      sk AS (SELECT j, cell, count(*)::BIGINT AS cnt
             FROM tk JOIN cl USING (tok) GROUP BY j, cell),
      est AS (SELECT tok, min(cnt)::BIGINT AS cms_est
              FROM cl JOIN sk USING (j, cell) GROUP BY tok),
      hh AS (SELECT tok, cms_est FROM est WHERE cms_est >= $minCount),
      ex AS (SELECT tok, count(*)::BIGINT AS n_exact
             FROM tk JOIN hh USING (tok) GROUP BY tok)
      SELECT h.tok AS token, h.cms_est, e.n_exact,
             (h.cms_est - e.n_exact)::BIGINT AS overcount
      FROM hh h JOIN ex e USING (tok) ORDER BY token"""
  }

  /** DuckDB replica of `Dedup.simhashPairs` over `documents(doc_id, text)`:
    * per-token XXH64 → 64-bit majority-vote SimHash → pigeonhole fragment
    * blocking → Hamming ≤ maxHamming. */
  /** CTE chain ending in `ph(doc_id, hu, phash)` — the dHash replica:
    * stub-grid byte probes at `(p*131+7) mod len` over the utf-8 payload
    * (= `encode(text)`, exactly what `withBinaryPayload` wraps), gradient
    * bit per 8x8 cell, empty payloads hash to 0. `hu` unsigned HUGEINT,
    * `phash` the signed BIGINT the engine emits. */
  private def dhashCtes: String = s"""
      bl0 AS (SELECT doc_id, ${bytesOf("text")} AS bl FROM documents),
      ph0 AS MATERIALIZED (SELECT doc_id,
        CASE WHEN len(bl) = 0 THEN 0::HUGEINT ELSE
          (list_aggregate(list_transform(range(0, 64), b ->
            CASE WHEN bl[(((b // 8) * 9 + (b % 8)) * 131 + 7) % len(bl) + 1] <
                      bl[(((b // 8) * 9 + (b % 8) + 1) * 131 + 7) % len(bl) + 1]
                 THEN ($pow2)[b + 1] ELSE 0::HUGEINT END), 'sum'))::HUGEINT
        END AS hu
        FROM bl0),
      ph AS (SELECT doc_id, hu,
               (CASE WHEN hu >= 9223372036854775808::HUGEINT
                     THEN hu - $M ELSE hu END)::BIGINT AS phash
             FROM ph0)"""

  /** DuckDB replica of `Multimodal.perceptualHash` over the documents-as-
    * binary fixture. */
  def dhashOracle: String = s"""
      WITH $dhashCtes
      SELECT doc_id AS id, phash FROM ph ORDER BY id"""

  /** CTE chain ending in `ph(doc_id, hu, phash)` — replica of the RENDERED
    * real-image corpus dHash ([[graft.operators.Multimodal.RenderSpec]]):
    * the render spec makes every resample cell a constant 4×4 block whose
    * gray value is `mix64(grp*72 + cell) mod Mod + Lo` (plus the member
    * perturbations), so the engine's ImageIO decode → luma → box-resample
    * → gradient pipeline must land on exactly these cell values — a full
    * codec-free replica of what the real decode must produce. Cell values
    * are computed once per GROUP (not per doc) and joined back. */
  private def renderDhashCtes: String = renderDhashCtes("TRUE")
  private def renderDhashCtes(docWhere: String): String = {
    val RS = graft.operators.Multimodal.RenderSpec
    require(RS.GroupSize == 5L && RS.W == 36 && RS.H == 32,
      "render oracle transcribes the RenderSpec constants; re-derive it")
    val v0 = s"(${mix64Pmod("grp * 72 + b", RS.Mod, RS.Seed)}) + ${RS.Lo}"
    val v4 = s"(${mix64Pmod(s"grp * 72 + b + ${RS.AltOffset}", RS.Mod, RS.Seed)}) + ${RS.Lo}"
    s"""
      d AS (SELECT doc_id, doc_id // 5 AS grp, doc_id % 5 AS member
            FROM documents WHERE $docWhere),
      g AS (SELECT DISTINCT grp FROM d),
      bs AS (SELECT unnest(range(0, 72)) AS b),
      c0 AS MATERIALIZED (SELECT grp, b, $v0 AS v0 FROM g CROSS JOIN bs),
      c4 AS MATERIALIZED (SELECT grp, b, $v4 AS v4 FROM g CROSS JOIN bs),
      cells AS MATERIALIZED (
        SELECT d.doc_id, c0.b,
          CASE WHEN d.member = 4 THEN c4.v4
               WHEN d.member = 3 THEN c0.v0 + 1
               WHEN d.member = 1 AND c0.b = 21 THEN c0.v0 + 24
               WHEN d.member = 2 AND (c0.b = 46 OR c0.b = 61) THEN c0.v0 + 30
               ELSE c0.v0 END AS v
        FROM d JOIN c0 ON c0.grp = d.grp
               JOIN c4 ON c4.grp = d.grp AND c4.b = c0.b),
      ph0 AS (
        SELECT a.doc_id,
               sum(CASE WHEN a.v < n.v
                        THEN ($pow2)[(a.b // 9) * 8 + (a.b % 9) + 1]
                        ELSE 0::HUGEINT END)::HUGEINT AS hu
        FROM cells a JOIN cells n ON n.doc_id = a.doc_id AND n.b = a.b + 1
        WHERE a.b % 9 < 8
        GROUP BY a.doc_id),
      ph AS (SELECT doc_id, hu,
               (CASE WHEN hu >= 9223372036854775808::HUGEINT
                     THEN hu - $M ELSE hu END)::BIGINT AS phash
             FROM ph0)"""
  }

  /** DuckDB replica of `Multimodal.perceptualHash` over the rendered
    * real-image corpus — see [[renderDhashCtes]]. */
  def renderDhashOracle: String = s"""
      WITH $renderDhashCtes
      SELECT doc_id AS id, phash FROM ph ORDER BY id"""

  /** Replica of `Multimodal.perceptualNearDup` over the RENDERED corpus:
    * render-spec hashes through the same pigeonhole fragment join. */
  def renderDhashNearDupOracle(maxHamming: Int = 3,
                               keepAllCandidates: Boolean = false): String =
    hammingJoinOver(renderDhashCtes, maxHamming, keepAllCandidates)

  /** CTE chain ending in `ph(doc_id, hu, phash)` — replica of the RENDERED
    * real-audio corpus fingerprint
    * ([[graft.operators.Multimodal.AudioRenderSpec]]): decoded samples are
    * a pure integer sawtooth of (doc group, member), so the whole
    * `javax.sound` encode → byte-level PCM decode → lag-energy filterbank
    * → gradient-bit pipeline must land on the energies this SQL computes
    * from the formula alone. Segment/band energies are exact BIGINT sums
    * of squared lag differences over the per-(doc, i, band) grid; missing
    * (segment, band) cells (a lag longer than the samples available to
    * that segment) are zero-energy, matching the engine's zero-initialized
    * accumulators. */
  private def audioFpCtes: String = audioFpCtes("TRUE")
  private def audioFpCtes(docWhere: String): String = {
    val RS = graft.operators.Multimodal.AudioRenderSpec
    require(RS.GroupSize == 5L && RS.N == 1024 && RS.SegLen == 128,
      "audio oracle transcribes the AudioRenderSpec constants; re-derive it")
    // decoded sample of doc (member, qq) at index expression j, whose
    // segment's base/alt periods are bound as (pb, pa) — the exact member
    // arithmetic of AudioRenderSpec.sample (floor-halving written as
    // (x - floorMod(x,2)) // 2: DuckDB // truncates toward zero, but the
    // numerator is exactly even so truncation = floor)
    def xf(j: String, pb: String, pa: String) = {
      def saw(p: String) = s"((($j) * ($p) + qq) % 65536 - 32768)"
      val s0 = saw(pb)
      s"""(CASE member
            WHEN 1 THEN ($s0 - (($s0 % 2 + 2) % 2)) // 2
            WHEN 2 THEN (CASE WHEN ($j) // 128 = 6 THEN ${saw(pa)} ELSE $s0 END)
            WHEN 3 THEN -greatest($s0, -32767)
            WHEN 4 THEN ${saw(pa)}
            ELSE $s0 END)"""
    }
    s"""
      dd AS (SELECT doc_id, doc_id // 5 AS grp, doc_id % 5 AS member
             FROM documents WHERE $docWhere),
      par AS MATERIALIZED (SELECT doc_id, grp, member,
              (grp * 997) % 65536 AS qq FROM dd),
      pt AS MATERIALIZED (
        SELECT grp, t,
               2001 + 2 * (${mix64Pmod("grp * 16 + t", 1000L, RS.Seed)}) AS pb,
               4001 + 2 * (${mix64Pmod("grp * 16 + 8 + t", 1000L, RS.Seed)}) AS pa
        FROM (SELECT DISTINCT grp FROM dd)
        CROSS JOIN (SELECT unnest(range(0, 8)) AS t)),
      lags AS (SELECT unnest(range(0, 9)) AS b,
                      unnest([1, 2, 4, 8, 16, 32, 64, 128, 256]) AS lag),
      idx AS (SELECT unnest(range(0, ${RS.N})) AS i),
      en0 AS MATERIALIZED (
        SELECT doc_id, t, b, sum(df * df)::BIGINT AS en FROM (
          SELECT par.doc_id, i // 128 AS t, b,
                 (${xf("i", "sa.pb", "sa.pa")} -
                  ${xf("i - lag", "sb.pb", "sb.pa")})::BIGINT AS df
          FROM par CROSS JOIN idx CROSS JOIN lags
          JOIN pt sa ON sa.grp = par.grp AND sa.t = i // 128
          JOIN pt sb ON sb.grp = par.grp AND sb.t = (i - lag) // 128
          WHERE i >= lag)
        GROUP BY doc_id, t, b),
      grid AS (SELECT doc_id, tt.t, bb.b
               FROM (SELECT DISTINCT doc_id FROM par)
               CROSS JOIN (SELECT unnest(range(0, 8)) AS t) tt
               CROSS JOIN (SELECT unnest(range(0, 9)) AS b) bb),
      en AS (SELECT g.doc_id, g.t, g.b, coalesce(e.en, 0::BIGINT) AS en
             FROM grid g LEFT JOIN en0 e
               ON e.doc_id = g.doc_id AND e.t = g.t AND e.b = g.b),
      ph0 AS (
        SELECT a.doc_id,
               sum(CASE WHEN a.en < n.en THEN ($pow2)[a.t * 8 + a.b + 1]
                        ELSE 0::HUGEINT END)::HUGEINT AS hu
        FROM en a JOIN en n ON n.doc_id = a.doc_id AND n.t = a.t AND n.b = a.b + 1
        WHERE a.b < 8
        GROUP BY a.doc_id),
      ph AS (SELECT doc_id, hu,
               (CASE WHEN hu >= 9223372036854775808::HUGEINT
                     THEN hu - $M ELSE hu END)::BIGINT AS phash
             FROM ph0)"""
  }

  /** DuckDB replica of `Multimodal.audioFingerprint` over the rendered
    * real-audio corpus — see [[audioFpCtes]]. */
  def audioFpOracle: String = s"""
      WITH $audioFpCtes
      SELECT doc_id AS id, phash AS afp FROM ph ORDER BY id"""

  /** Replica of `Multimodal.audioNearDup` over the RENDERED audio corpus:
    * formula fingerprints through the same pigeonhole hamming join. */
  def audioFpNearDupOracle(maxHamming: Int = 3,
                           keepAllCandidates: Boolean = false): String =
    hammingJoinOver(audioFpCtes, maxHamming, keepAllCandidates)

  /** CTE chain ending in `fh(doc_id, f, hu, fhash)` — replica of the
    * RENDERED real-video corpus per-frame dHash
    * ([[graft.operators.Multimodal.VideoRenderSpec]]): each AVI frame is
    * 36×32 px of constant 4×4 cells with (v,v,v) samples, so the engine's
    * container walk → bottom-up BGR decode → luma → box-resample →
    * gradient pipeline must land on exactly the cell values this SQL
    * computes from the formula alone. Also exposes `d(doc_id, grp,
    * member)`, `gnf(grp, nf)` and `cells(doc_id, f, b, v)` for the
    * fingerprint/meta oracles stacked on top. */
  private def videoFrameDhashCtes: String = videoFrameDhashCtes("TRUE")
  private def videoFrameDhashCtes(docWhere: String): String = {
    val RS = graft.operators.Multimodal.VideoRenderSpec
    require(RS.GroupSize == 5L && RS.W == 36 && RS.H == 32 &&
            RS.Mod == 200L && RS.Lo == 26,
      "video oracle transcribes the VideoRenderSpec constants; re-derive it")
    val v0 = s"(${mix64Pmod("grp * 8192 + f * 128 + b", RS.Mod, RS.Seed)}) + ${RS.Lo}"
    val v4 = s"(${mix64Pmod(s"grp * 8192 + f * 128 + b + ${RS.AltOffset}", RS.Mod, RS.Seed)}) + ${RS.Lo}"
    s"""
      d AS (SELECT doc_id, doc_id // 5 AS grp, doc_id % 5 AS member
            FROM documents WHERE $docWhere),
      gnf AS MATERIALIZED (
        SELECT grp, 6 + (${mix64Pmod("grp * 8192 + 4096", 3L, RS.Seed)}) AS nf
        FROM (SELECT DISTINCT grp FROM d)),
      gfb AS (SELECT grp, unnest(range(0, nf)) AS f FROM gnf),
      bs AS (SELECT unnest(range(0, 72)) AS b),
      c0 AS MATERIALIZED (SELECT grp, f, b, $v0 AS v0 FROM gfb CROSS JOIN bs),
      c4 AS MATERIALIZED (SELECT grp, f, b, $v4 AS v4 FROM gfb CROSS JOIN bs),
      cells AS MATERIALIZED (
        SELECT d.doc_id, c0.f, c0.b,
          CASE WHEN d.member = 4 THEN c4.v4
               WHEN d.member = 3 THEN c0.v0 + 1
               WHEN d.member = 1 AND c0.f = 2 AND c0.b = 21 THEN c0.v0 + 24
               WHEN d.member = 2 AND (c0.f = 1 OR c0.f = 4)
                                AND (c0.b = 46 OR c0.b = 61) THEN c0.v0 + 30
               ELSE c0.v0 END AS v
        FROM d JOIN c0 ON c0.grp = d.grp
               JOIN c4 ON c4.grp = d.grp AND c4.f = c0.f AND c4.b = c0.b),
      fh0 AS (
        SELECT a.doc_id, a.f,
               sum(CASE WHEN a.v < n.v
                        THEN ($pow2)[(a.b // 9) * 8 + (a.b % 9) + 1]
                        ELSE 0::HUGEINT END)::HUGEINT AS hu
        FROM cells a JOIN cells n ON n.doc_id = a.doc_id AND n.f = a.f
                                 AND n.b = a.b + 1
        WHERE a.b % 9 < 8
        GROUP BY a.doc_id, a.f),
      fh AS (SELECT doc_id, f, hu,
               (CASE WHEN hu >= 9223372036854775808::HUGEINT
                     THEN hu - $M ELSE hu END)::BIGINT AS fhash
             FROM fh0)"""
  }

  /** DuckDB replica of `Multimodal.videoFrameHashes` over the rendered
    * real-video corpus — see [[videoFrameDhashCtes]]. */
  def videoFrameDhashOracle: String = s"""
      WITH $videoFrameDhashCtes
      SELECT doc_id AS id, f::INT AS frame_idx, fhash FROM fh
      ORDER BY id, frame_idx"""

  /** CTE chain ending in `ph(doc_id, hu, phash)` — the majority-vote video
    * fingerprint over the per-frame replica hashes: bit b set iff at least
    * half the doc's frames set it (ties → set, matching the engine's
    * `2*count >= n` rule exactly in integer arithmetic). */
  private def videoFpCtes: String = videoFpCtes("TRUE")
  private def videoFpCtes(docWhere: String): String = s"""${videoFrameDhashCtes(docWhere)},
      vbits AS (SELECT a.doc_id, a.f, (a.b // 9) * 8 + (a.b % 9) AS bit
                FROM cells a JOIN cells n ON n.doc_id = a.doc_id
                                         AND n.f = a.f AND n.b = a.b + 1
                WHERE a.b % 9 < 8 AND a.v < n.v),
      vcnt AS (SELECT doc_id, bit, count(*) AS c FROM vbits GROUP BY doc_id, bit),
      dnf AS (SELECT d.doc_id, gnf.nf FROM d JOIN gnf USING (grp)),
      ph0 AS (SELECT dnf.doc_id,
                coalesce(sum(CASE WHEN 2 * c.c >= dnf.nf
                                  THEN ($pow2)[c.bit + 1]
                                  ELSE 0::HUGEINT END), 0::HUGEINT)::HUGEINT AS hu
              FROM dnf LEFT JOIN vcnt c ON c.doc_id = dnf.doc_id
              GROUP BY dnf.doc_id),
      ph AS (SELECT doc_id, hu,
               (CASE WHEN hu >= 9223372036854775808::HUGEINT
                     THEN hu - $M ELSE hu END)::BIGINT AS phash
             FROM ph0)"""

  /** DuckDB replica of `Multimodal.videoFingerprint` over the rendered
    * real-video corpus — see [[videoFpCtes]]. */
  def videoFpOracle: String = s"""
      WITH $videoFpCtes
      SELECT doc_id AS id, phash AS vfp FROM ph ORDER BY id"""

  /** Replica of `Multimodal.videoNearDup`: majority fingerprints through
    * the same pigeonhole hamming join. */
  def videoFpNearDupOracle(maxHamming: Int = 3,
                           keepAllCandidates: Boolean = false): String =
    hammingJoinOver(videoFpCtes, maxHamming, keepAllCandidates)

  /** Replica of `Multimodal.videoSharedFrames`: formula frame hashes →
    * distinct postings → doc-frequency prune → exact-equality pair join
    * with shared counts and integer-ppm containment. */
  def videoSharedFramesOracle(minShared: Int, maxFrameFreq: Long): String = s"""
      WITH $videoFrameDhashCtes,
      dfh AS (SELECT DISTINCT doc_id, fhash FROM fh),
      cnts AS (SELECT doc_id, count(*)::BIGINT AS n FROM dfh GROUP BY doc_id),
      post AS (SELECT doc_id, fhash FROM (
            SELECT doc_id, fhash, count(*) OVER (PARTITION BY fhash) AS dfq
            FROM dfh) WHERE dfq <= $maxFrameFreq),
      prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*)::BIGINT AS shared_frames
              FROM post a JOIN post b
                ON a.fhash = b.fhash AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= $minShared)
      SELECT id_a, id_b, shared_frames, ca.n AS n_a, cb.n AS n_b,
             shared_frames * 1000000 // least(ca.n, cb.n) AS containment_ppm
      FROM prs JOIN cnts ca ON ca.doc_id = id_a
               JOIN cnts cb ON cb.doc_id = id_b
      ORDER BY id_a, id_b"""

  /** Replica of `Multimodal.videoMeta` over the rendered corpus with
    * `truncateMod`-doctored rows: the frame-count draw replayed from the
    * mix64 stream; a truncated id (cut mid-way into its LAST frame chunk)
    * must report exactly one frame fewer than declared — the
    * clamp-to-present contract, as id arithmetic. */
  def videoMetaOracle(truncateMod: Long): String = {
    val RS = graft.operators.Multimodal.VideoRenderSpec
    s"""
      WITH d AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
      gnf AS (SELECT grp, 6 + (${mix64Pmod("grp * 8192 + 4096", 3L, RS.Seed)}) AS nf
              FROM (SELECT DISTINCT grp FROM d))
      SELECT doc_id AS id, ${RS.W} AS width, ${RS.H} AS height,
             ${RS.UsPerFrame}::BIGINT AS us_per_frame,
             nf::BIGINT AS n_frames_declared,
             (CASE WHEN doc_id % $truncateMod = 3 THEN nf - 1 ELSE nf END)::INT
               AS n_frames_present
      FROM d JOIN gnf USING (grp) ORDER BY id"""
  }

  /** Replica of `Multimodal.videoDecodeReport` over the rendered MJPEG
    * corpus (`mm_video_mjpeg`): the frame-count draw replayed from the
    * mix64 stream; an id with `id % corruptMod == 3` carries one
    * truncated JPEG stream inside a valid container, so exactly one frame
    * drops from the decoded count while the container count is full; the
    * fingerprint is always present (≥ 5 frames survive every id). The
    * lossy per-frame hash VALUES are spec'd in MultimodalSpec, not
    * oracled — this pins decode survival, the exact contract the gate
    * claims. */
  def videoMjpegDecodeOracle(corruptMod: Long): String = {
    val RS = graft.operators.Multimodal.VideoRenderSpec
    s"""
      WITH d AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
      gnf AS (SELECT grp, 6 + (${mix64Pmod("grp * 8192 + 4096", 3L, RS.Seed)}) AS nf
              FROM (SELECT DISTINCT grp FROM d))
      SELECT doc_id AS id, 'mjpg' AS codec, nf::INT AS n_frames_present,
             (CASE WHEN doc_id % $corruptMod = 3 THEN nf - 1 ELSE nf END)::INT
               AS n_frames_decoded,
             1 AS fp_nonnull
      FROM d JOIN gnf USING (grp) ORDER BY id"""
  }

  /** CTE `fps(doc_id, family, hu)` — the COMPOSED ingest replica: each
    * modality's full formula chain (render dHash / audio lag-energy /
    * video majority vote) evaluated over ITS id subset of the mixed
    * corpus (`(doc_id DIV 5) % 4` routes: image, audio, video, text),
    * with the corrupt-PNG rule (`id % 17 == 5` → NULL fingerprint) and
    * text rows carrying no fingerprint at all. Each chain runs inside its
    * own derived-table WITH, so their CTE namespaces never collide. */
  private def ingestFpsCte: String = {
    val img = s"""SELECT doc_id, 'image' AS family,
           CASE WHEN doc_id % 17 = 5 THEN NULL ELSE hu END AS hu
         FROM (WITH ${renderDhashCtes("(doc_id // 5) % 4 = 0")}
               SELECT doc_id, hu FROM ph)"""
    val aud = s"""SELECT doc_id, 'audio', hu
         FROM (WITH ${audioFpCtes("(doc_id // 5) % 4 = 1")}
               SELECT doc_id, hu FROM ph)"""
    val vid = s"""SELECT doc_id, 'video', hu
         FROM (WITH ${videoFpCtes("(doc_id // 5) % 4 = 2")}
               SELECT doc_id, hu FROM ph)"""
    val txt = s"""SELECT doc_id, 'other', NULL::HUGEINT
         FROM documents WHERE (doc_id // 5) % 4 = 3"""
    s"""fps AS MATERIALIZED (
        $img UNION ALL $aud UNION ALL $vid UNION ALL $txt)"""
  }

  /** `fps` + the FAMILY-KEYED pigeonhole join (the family rides in the
    * bucket identity, exactly like the engine's grouped blocking key) →
    * CTE `pairs(family, id_a, id_b, hamming)`. */
  private def ingestPairsCtes(maxHamming: Int): String = {
    val nBlocks = maxHamming + 1
    val bitsPer = 64 / nBlocks
    s"""$ingestFpsCte,
      blk AS (SELECT doc_id, family, hu, unnest(range(0, $nBlocks)) AS i
              FROM fps WHERE hu IS NOT NULL),
      b2 AS MATERIALIZED (SELECT doc_id, family, hu, i,
              (hu // ($pow2)[i*$bitsPer+1]) % ${1L << bitsPer} AS bits FROM blk),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM b2 GROUP BY family, i, bits)) > 4096
                THEN error('ingest oracle models the UNCAPPED keyed fragment join; a block exceeds the engine skew cap (4096) so outputs would diverge')
                ELSE 1 END AS ok),
      prs AS (SELECT DISTINCT a.family, a.doc_id AS id_a, b.doc_id AS id_b,
                     a.hu AS ha, b.hu AS hb
              FROM b2 a JOIN b2 b ON a.family = b.family AND a.i = b.i
                                 AND a.bits = b.bits AND a.doc_id < b.doc_id),
      pairs AS (SELECT family, id_a, id_b, bit_count(xor(ha, hb))::INT AS hamming
                FROM prs CROSS JOIN guard
                WHERE bit_count(xor(ha, hb)) <= $maxHamming)"""
  }

  /** Replica of the composed `Multimodal.ingestPipeline` PAIR table. */
  def ingestPairsOracle(maxHamming: Int = 3): String = s"""
      WITH ${ingestPairsCtes(maxHamming)}
      SELECT family, id_a, id_b, hamming FROM pairs
      ORDER BY family, id_a, id_b"""

  /** Replica of the composed `Multimodal.ingestPipeline` DATA-CARD: per
    * family, corpus size, decode survival, and near-dup reach — every
    * number a pure composition of the modality formula oracles above. */
  def ingestCardOracle(maxHamming: Int = 3): String = s"""
      WITH ${ingestPairsCtes(maxHamming)},
      base AS (SELECT family, count(*)::BIGINT AS n_docs,
                      count(hu)::BIGINT AS n_decoded,
                      (count(*) - count(hu))::BIGINT AS n_null
               FROM fps GROUP BY family),
      pc AS (SELECT family, count(*)::BIGINT AS n_pairs FROM pairs GROUP BY family),
      pd AS (SELECT family, count(*)::BIGINT AS n_docs_paired FROM (
               SELECT DISTINCT family, id FROM (
                 SELECT family, id_a AS id FROM pairs
                 UNION ALL SELECT family, id_b AS id FROM pairs))
             GROUP BY family)
      SELECT base.family, n_docs, n_decoded, n_null,
             coalesce(n_pairs, 0)::BIGINT AS n_pairs,
             coalesce(n_docs_paired, 0)::BIGINT AS n_docs_paired
      FROM base LEFT JOIN pc ON pc.family = base.family
                LEFT JOIN pd ON pd.family = base.family
      ORDER BY base.family"""

  /** Fragment CTE `b2(doc_id, hu, i, bits)` over the render-dHash chain —
    * the replica of the engine's packed fragment key (the fragment index
    * and its bit content identify a bucket). */
  private def renderFragCtes(maxHamming: Int): String = {
    val nBlocks = maxHamming + 1
    val bitsPer = 64 / nBlocks
    s"""$renderDhashCtes,
      frag AS (SELECT doc_id, hu, unnest(range(0, $nBlocks)) AS i FROM ph),
      b2 AS MATERIALIZED (SELECT doc_id, hu, i,
              (hu // ($pow2)[i*$bitsPer+1]) % ${1L << bitsPer} AS bits FROM frag)"""
  }

  /** Replica of `Dedup.hammingSurvivorsIndexed` over the rendered image
    * corpus split members 0–1 (corpus index) / members 2–4 (incoming):
    * per incoming id, distinct corpus ids within `maxHamming`, distinct
    * smaller-id incoming ids within `maxHamming`, and the greedy
    * keep-first survival decision. */
  def hammingIncrementalOracle(maxHamming: Int): String = s"""
      WITH ${renderFragCtes(maxHamming)},
      crossd AS (SELECT DISTINCT a.doc_id AS id, b.doc_id AS cid
                 FROM b2 a JOIN b2 b ON a.i = b.i AND a.bits = b.bits
                 WHERE a.doc_id % 5 >= 2 AND b.doc_id % 5 < 2
                   AND bit_count(xor(a.hu, b.hu)) <= $maxHamming),
      nc AS (SELECT id, count(*)::BIGINT AS n_dup_corpus FROM crossd GROUP BY id),
      intra AS (SELECT DISTINCT a.doc_id AS id, b.doc_id AS bid
                FROM b2 a JOIN b2 b ON a.i = b.i AND a.bits = b.bits
                WHERE a.doc_id % 5 >= 2 AND b.doc_id % 5 >= 2
                  AND b.doc_id < a.doc_id
                  AND bit_count(xor(a.hu, b.hu)) <= $maxHamming),
      nb AS (SELECT id, count(*)::BIGINT AS n_dup_batch FROM intra GROUP BY id)
      SELECT p.doc_id AS id,
             coalesce(nc.n_dup_corpus, 0)::BIGINT AS n_dup_corpus,
             coalesce(nb.n_dup_batch, 0)::BIGINT AS n_dup_batch,
             (coalesce(nc.n_dup_corpus, 0) = 0 AND
              coalesce(nb.n_dup_batch, 0) = 0) AS survives
      FROM ph p LEFT JOIN nc ON nc.id = p.doc_id
                LEFT JOIN nb ON nb.id = p.doc_id
      WHERE p.doc_id % 5 >= 2
      ORDER BY id"""

  /** Replica of `Dedup.hammingIngest` (and its live twin) over the
    * rendered image corpus: the sequential accepted-so-far loop — per
    * batch, drop ids within `maxHamming` of an ACCEPTED fingerprint or a
    * smaller-id batch mate, then extend the accepted set — replayed as a
    * chained CTE per batch, the `ingestOracle` pattern over fragments. */
  def hammingIngestOracle(bounds: Seq[(Long, Long)], maxHamming: Int): String = {
    val steps = bounds.zipWithIndex.map { case ((lo, hi), i0) =>
      val i = i0 + 1
      s"""drop$i AS (
        SELECT DISTINCT a.doc_id
        FROM b2 a JOIN b2 b ON a.i = b.i AND a.bits = b.bits
        WHERE a.doc_id >= $lo AND a.doc_id < $hi
          AND (b.doc_id IN (SELECT doc_id FROM acc${i - 1})
               OR (b.doc_id >= $lo AND b.doc_id < $hi AND b.doc_id < a.doc_id))
          AND bit_count(xor(a.hu, b.hu)) <= $maxHamming),
      acc$i AS MATERIALIZED (
        SELECT doc_id FROM acc${i - 1}
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id >= $lo AND doc_id < $hi
          AND doc_id NOT IN (SELECT doc_id FROM drop$i))"""
    }
    s"""
      WITH ${renderFragCtes(maxHamming)},
      acc0 AS (SELECT doc_id FROM documents WHERE FALSE),
      ${steps.mkString(",\n      ")}
      SELECT p.doc_id AS id, p.phash
      FROM ph p JOIN acc${bounds.size} a ON a.doc_id = p.doc_id
      ORDER BY id"""
  }

  /** Replica of the composed LIVE ingest (`stream_pipeline_mm_ingest`):
    * the three modality formula chains united as `fps(doc_id, family,
    * hu)` ([[ingestFpsCte]] — text and corrupt rows carry NULL and never
    * enter), then the sequential accepted-so-far loop over FAMILY-KEYED
    * fragment joins — per batch, drop ids within `maxHamming` of an
    * accepted same-family fingerprint or a smaller-id same-family batch
    * mate. Output `(id, family, phash)`. */
  def composedIngestLoopOracle(bounds: Seq[(Long, Long)],
                               maxHamming: Int): String = {
    val nBlocks = maxHamming + 1
    val bitsPer = 64 / nBlocks
    val steps = bounds.zipWithIndex.map { case ((lo, hi), i0) =>
      val i = i0 + 1
      s"""drop$i AS (
        SELECT DISTINCT a.doc_id
        FROM b2 a JOIN b2 b ON a.i = b.i AND a.bits = b.bits
                           AND a.family = b.family
        WHERE a.doc_id >= $lo AND a.doc_id < $hi
          AND (b.doc_id IN (SELECT doc_id FROM acc${i - 1})
               OR (b.doc_id >= $lo AND b.doc_id < $hi AND b.doc_id < a.doc_id))
          AND bit_count(xor(a.hu, b.hu)) <= $maxHamming),
      acc$i AS MATERIALIZED (
        SELECT doc_id FROM acc${i - 1}
        UNION ALL
        SELECT doc_id FROM fps
        WHERE hu IS NOT NULL AND doc_id >= $lo AND doc_id < $hi
          AND doc_id NOT IN (SELECT doc_id FROM drop$i))"""
    }
    s"""
      WITH $ingestFpsCte,
      frag AS (SELECT doc_id, family, hu, unnest(range(0, $nBlocks)) AS i
               FROM fps WHERE hu IS NOT NULL),
      b2 AS MATERIALIZED (SELECT doc_id, family, hu, i,
              (hu // ($pow2)[i*$bitsPer+1]) % ${1L << bitsPer} AS bits FROM frag),
      acc0 AS (SELECT doc_id FROM documents WHERE FALSE),
      ${steps.mkString(",\n      ")}
      SELECT f.doc_id AS id, f.family,
             (CASE WHEN f.hu >= 9223372036854775808::HUGEINT
                   THEN f.hu - $M ELSE f.hu END)::BIGINT AS phash
      FROM fps f JOIN acc${bounds.size} a ON a.doc_id = f.doc_id
      ORDER BY id"""
  }

  /** The pigeonhole hamming join over any CTE chain ending in
    * `ph(doc_id, hu, ...)`. */
  private def hammingJoinOver(ctes: String, maxHamming: Int,
                              keepAllCandidates: Boolean): String = {
    val nBlocks = maxHamming + 1
    val bitsPer = 64 / nBlocks
    val hWhere =
      if (keepAllCandidates) "" else s"WHERE bit_count(xor(ha, hb)) <= $maxHamming"
    s"""
      WITH $ctes,
      blk AS (SELECT doc_id, hu, unnest(range(0, $nBlocks)) AS i FROM ph),
      b2 AS MATERIALIZED (SELECT doc_id, hu, i,
              (hu // ($pow2)[i*$bitsPer+1]) % ${1L << bitsPer} AS bits FROM blk),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM b2 GROUP BY i, bits)) > 4096
                THEN error('dhash oracle models the UNCAPPED fragment join; a block exceeds the engine skew cap (4096) so outputs would diverge')
                ELSE 1 END AS ok),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.hu AS ha, b.hu AS hb
                FROM b2 a JOIN b2 b ON a.i = b.i AND a.bits = b.bits AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, bit_count(xor(ha, hb))::INT AS hamming
      FROM pairs CROSS JOIN guard $hWhere
      ORDER BY id_a, id_b"""
  }

  def simhashOracle(maxHamming: Int = 3): String = {
    val nBlocks = maxHamming + 1
    val bitsPer = 64 / nBlocks
    val xx = xxh64Str("s", padLen = 20)
    s"""
      WITH tokrows AS (SELECT doc_id, unnest($sqlToks) AS s FROM documents),
      dh AS MATERIALIZED (SELECT s, $xx AS h FROM (SELECT DISTINCT s FROM tokrows)),
      th AS (SELECT doc_id, h FROM tokrows JOIN dh USING (s)),
      votes AS (
        SELECT doc_id, b, sum(((h // ($pow2)[b+1]) % 2) * 2 - 1) AS vote
        FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY doc_id, b),
      sh AS (
        SELECT doc_id,
               sum(CASE WHEN vote > 0 THEN ($pow2)[b+1] ELSE 0::HUGEINT END)::HUGEINT AS sh
        FROM votes GROUP BY doc_id),
      blk AS (SELECT doc_id, sh, unnest(range(0, $nBlocks)) AS i FROM sh),
      b2 AS MATERIALIZED (SELECT doc_id, sh, i,
              (sh // ($pow2)[i*$bitsPer+1]) % ${1L << bitsPer} AS bits FROM blk),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM b2 GROUP BY i, bits)) > 4096
                THEN error('simhash oracle models the UNCAPPED fragment join; a block exceeds the engine skew cap (4096) so outputs would diverge')
                ELSE 1 END AS ok),
      pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sha, b.sh AS shb
                FROM b2 a JOIN b2 b ON a.i = b.i AND a.bits = b.bits AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, bit_count(xor(sha, shb))::INT AS hamming
      FROM pairs CROSS JOIN guard WHERE bit_count(xor(sha, shb)) <= $maxHamming
      ORDER BY id_a, id_b"""
  }

  /** DuckDB replica of `Dedup.minhashLshPairs` over `documents`: 3-gram
    * shingles → XXH64 → per-permutation XOR salt + 31-bit fold →
    * k-permutation MinHash signature (the engine's exact coefficients and
    * salts — see `TextFunctions.minhashSalts` for why the salt precedes
    * the fold) → banded LSH keys (XXH64 of band idx + joined slice, like
    * Spark's multi-arg `xxhash64`) → signature-agreement estimate ≥
    * threshold. */
  def minhashOracle(numHashes: Int = 128, bands: Int = 16,
                    threshold: Double = 0.4): String = s"""
      WITH ${minhashAgreeCtes(numHashes, bands)}
      SELECT id_a, id_b, agree::DOUBLE / $numHashes AS est_jaccard
      FROM ag WHERE agree::DOUBLE / $numHashes >= $threshold
      ORDER BY id_a, id_b"""

  /** CTE chain (no leading WITH) ending in `ag(id_a, id_b, agree)` — the
    * banded candidate pairs with signature-agreement counts, on top of
    * [[minhashBandCtes]]. The single source of truth for the pair/agree
    * step: [[minhashOracle]] thresholds it into the est-jaccard pair set,
    * and the fuzzy-pipeline oracle stacks the transitive closure on it —
    * keeping one replica so a parameter tune cannot drift them apart. */
  def minhashAgreeCtes(numHashes: Int, bands: Int): String = s"""${minhashBandCtes(numHashes, bands)},
      prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS siga, b.sig AS sigb
              FROM bk a CROSS JOIN guard JOIN bk b ON a.band = b.band AND a.doc_id < b.doc_id),
      ag AS (SELECT id_a, id_b,
               list_aggregate(list_transform(range(0, $numHashes), j ->
                 CASE WHEN siga[j+1] = sigb[j+1] THEN 1 ELSE 0 END), 'sum') AS agree
             FROM prs)"""

  /** Weighted-minhash replica: the [[minhashBandCtes]] chain with the
    * integer-weight multiset expansion injected before the fold — each
    * distinct shingle contributes `least(N // df, capW)` copies
    * `xor(h_signed, salt_j)` (salts = the engine's precomputed
    * j·constant table, embedded as literals so neither engine multiplies
    * at runtime). DuckDB's BIGINT xor is two's-complement bitwise,
    * verified bit-equal to Java's. Ends in `ag(id_a, id_b, agree)`. */
  def weightedMinhashAgreeCtes(numHashes: Int, bands: Int,
                               capW: Int): String = {
    val rows = numHashes / bands
    val (ca, cb) = graft.functions.TextFunctions.minhashCoefficients(numHashes)
    val al = ca.mkString("[", ", ", "]")
    val bl = cb.mkString("[", ", ", "]")
    val salts = graft.operators.Dedup.WeightSalts.take(capW)
      .map(v => s"$v::BIGINT").mkString("[", ", ", "]")
    val rl = graft.functions.TextFunctions.minhashSalts(numHashes)
      .map(v => s"$v::BIGINT").mkString("[", ", ", "]")
    val xx = xxh64Str("s", padLen = 20)
    s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh3 AS (SELECT doc_id,
                CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                     ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                          i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
              FROM toks),
      shr AS (SELECT doc_id, unnest(hs) AS s FROM sh3),
      dh AS MATERIALIZED (SELECT s, $xx AS h FROM (SELECT DISTINCT s FROM shr)),
      hsig AS (SELECT doc_id, s,
                 (CASE WHEN h >= 9223372036854775808::HUGEINT
                       THEN (h - $M)::BIGINT ELSE h::BIGINT END) AS v0
               FROM shr JOIN dh USING (s)),
      dfq AS (SELECT s, count(*)::BIGINT AS dfh FROM shr GROUP BY 1),
      ndw AS (SELECT count(*)::BIGINT AS n FROM documents),
      wts AS (SELECT doc_id, v0,
                least((SELECT n FROM ndw) // dfh, $capW)::BIGINT AS w
              FROM hsig JOIN dfq USING (s)),
      exp AS (SELECT doc_id,
                xor(v0, ($salts)[unnest(range(w))::INT + 1]) AS v
              FROM wts),
      perm AS (
        SELECT doc_id, j,
          min((($al)[j+1] *
                 ((xor(v, ($rl)[j+1]) % 2147483647 + 2147483647) % 2147483647)
               + ($bl)[j+1]) % 2305843009213693951) AS v
        FROM exp CROSS JOIN (SELECT unnest(range(0, $numHashes)) AS j)
        GROUP BY doc_id, j),
      sig AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM perm GROUP BY doc_id),
      bnd AS (SELECT doc_id, sig, unnest(range(0, $bands)) AS bi FROM sig),
      bs AS (SELECT doc_id, sig, bi,
               array_to_string(list_slice(sig, bi*$rows+1, bi*$rows+$rows), ',') AS s2
             FROM bnd),
      bk AS MATERIALIZED (SELECT doc_id, sig, bi::VARCHAR || '|' || s2 AS band FROM bs),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM bk GROUP BY band)) > 4096
                THEN error('weighted-minhash oracle models the UNCAPPED band join; a bucket exceeds the engine skew cap (4096)')
                ELSE 1 END AS ok),
      prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS siga, b.sig AS sigb
              FROM bk a CROSS JOIN guard JOIN bk b ON a.band = b.band AND a.doc_id < b.doc_id),
      ag AS (SELECT id_a, id_b,
               list_aggregate(list_transform(range(0, $numHashes), j ->
                 CASE WHEN siga[j+1] = sigb[j+1] THEN 1 ELSE 0 END), 'sum') AS agree
             FROM prs)"""
  }

  /** CTE chain (no leading WITH) computing per-doc banded LSH keys over
    * `documents`: 3-gram shingle strings (`sh3`: doc_id, hs) → XXH64 →
    * 31-bit fold → k-perm signature (`sig`) → per-band keys
    * (`bk`: doc_id, sig, band) → `guard`, which `error()`s when any band
    * bucket exceeds the engine's 4096 skew cap (outputs would diverge from
    * the capped star-pairing join). Shared by `minhashOracle` and the
    * verified-pairs oracle so cap-induced divergence always fails loudly
    * with the explanatory message, never as a bare hash mismatch. Callers
    * must `CROSS JOIN guard` somewhere to force the guard's evaluation. */
  def minhashBandCtes(numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    val (ca, cb) = graft.functions.TextFunctions.minhashCoefficients(numHashes)
    val al = ca.mkString("[", ", ", "]")
    val bl = cb.mkString("[", ", ", "]")
    val rl = graft.functions.TextFunctions.minhashSalts(numHashes)
      .map(v => s"$v::BIGINT").mkString("[", ", ", "]")
    val xx = xxh64Str("s", padLen = 20)
    // The engine's physical band key is xxhash64(band_idx, joined_slice);
    // the oracle joins on the RAW (band_idx, slice) string instead. The
    // two bucketings are equivalent for the output pair set: the hash is
    // injective on the (bi, s2) pairs absent a 64-bit collision, and a
    // collision could only ADD an engine-side candidate pair, which the
    // signature-agreement threshold then re-filters identically on both
    // sides. Replaying the hash cost ~4 ms per band key in DuckDB (the
    // padLen=28 reduce over ~160-byte strings) — 33 of dedup_minhash's
    // 35 s, ×6 minhash-family oracles; the raw key runs the same oracle
    // in 2.4 s bit-identically (round-9 gate-cost diagnosis).
    val bandKey = "bi::VARCHAR || '|' || s2"
    s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh3 AS (SELECT doc_id,
                CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                     ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                          i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
              FROM toks),
      shr AS (SELECT doc_id, unnest(hs) AS s FROM sh3),
      dh AS MATERIALIZED (SELECT s, $xx AS h FROM (SELECT DISTINCT s FROM shr)),
      hr AS (SELECT doc_id, h FROM shr JOIN dh USING (s)),
      fr AS (SELECT doc_id,
               (CASE WHEN h >= 9223372036854775808::HUGEINT
                     THEN (h - $M)::BIGINT ELSE h::BIGINT END) AS v0 FROM hr),
      perm AS (
        SELECT doc_id, j,
          min((($al)[j+1] *
                 ((xor(v0, ($rl)[j+1]) % 2147483647 + 2147483647) % 2147483647)
               + ($bl)[j+1]) % 2305843009213693951) AS v
        FROM fr CROSS JOIN (SELECT unnest(range(0, $numHashes)) AS j)
        GROUP BY doc_id, j),
      sig AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM perm GROUP BY doc_id),
      bnd AS (SELECT doc_id, sig, unnest(range(0, $bands)) AS bi FROM sig),
      bs AS (SELECT doc_id, sig, bi,
               array_to_string(list_slice(sig, bi*$rows+1, bi*$rows+$rows), ',') AS s2
             FROM bnd),
      bk AS MATERIALIZED (SELECT doc_id, sig, $bandKey AS band FROM bs),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM bk GROUP BY band)) > 4096
                THEN error('minhash oracle models the UNCAPPED band join; a bucket exceeds the engine skew cap (4096) so outputs would diverge')
                ELSE 1 END AS ok)"""
  }
}
