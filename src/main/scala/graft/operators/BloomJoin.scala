package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Sampling
import graft.queries.QueryDef
import graft.queries.QueryDef.tbl

/** Bloom-filter runtime prefilter for semi joins — the "row-level runtime
  * filtering" pattern (what Spark's own `spark.sql.optimizer.runtime.
  * bloomFilter.enabled` injects for shuffle joins, built here as an
  * explicit, deterministic operator the user controls).
  *
  * The 100 TB problem it solves: `fact SEMI JOIN dim` where `dim`'s key
  * set is small enough to summarize (millions of keys) but the fact side
  * is the 100 TB table. A plain shuffle semi join exchanges EVERY fact
  * row on the join key before any dim row is consulted; rows that can
  * never match (usually the overwhelming majority after a selective dim
  * predicate) pay full shuffle cost. A Bloom filter of the dim key set is
  * a few KB–MB of bitset that travels to every task as one array literal
  * and rejects non-matching rows DURING THE SCAN, before the exchange —
  * shuffle volume drops by the filter's selectivity while the exact join
  * that follows removes the false positives, so results are exact.
  *
  * Determinism: bit positions derive from [[Sampling.portableHash]]
  * (md5-based) by double hashing — `pos_i = (h1 + i*h2) mod m` with
  * `h1 = h & (m-1)`, `h2 = ((h >> log2 m) & (m-1)) | 1` (odd, hence
  * coprime to the power-of-two `m`, so the j probes are distinct). The
  * bitset is a pure function of the key SET — independent of
  * partitioning, merge order, and engine — which makes even the
  * prefilter's pass/reject decision replicable in SQL (the q42/q96
  * plane-literal pattern applied to a bitset).
  *
  * Scale shape: the build is one map-side-combinable aggregate over the
  * dim keys — each task emits at most m/64 (word, bits) partials, the
  * exchange carries O(m/64) longs per task, and the driver holds m/64
  * longs (model state, like the IVF centroids in
  * `ext/Similarity.scala`). The probe is map-only: one md5 + j shifted
  * bit tests per row against an `Array[Long]` literal (single
  * `typedlit`, codegen-friendly, no UDF). ANSI-safe: every intermediate
  * is < j*m, far from overflow.
  *
  * Reference scope note: the reference engine (beavers) has no runtime
  * filters — this is part of the beyond-parity scale set, alongside
  * as-of/range joins and the z-order layout.
  */
object BloomJoin {

  private def require2(m: Int): Int = {
    require(m >= 64 && (m & (m - 1)) == 0, s"m must be a power of two >= 64, got $m")
    java.lang.Integer.numberOfTrailingZeros(m)
  }

  /** JVM mirror of [[positions]] for per-row streaming state code
    * ([[graft.streaming.TransformWithStateOps.streamingBloomDedup]]):
    * same md5-derived hash ([[Sampling.portableHash]]'s exact definition —
    * first 15 hex chars base-16), same double-hash layout, so a bitset
    * built row-side is interchangeable with one built by the aggregate.
    * Pinned equal to the Column form in `BloomJoinSpec`. */
  def positionsJvm(key: String, m: Int, j: Int): Array[Long] = {
    val log2m = require2(m)
    val mask = (m - 1).toLong
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val h1 = h & mask
    val h2 = ((h >> log2m) & mask) | 1L
    Array.tabulate(j)(i => (h1 + i.toLong * h2) & mask)
  }

  /** The j probe positions of `key` in a Bloom filter of `m` bits (m a
    * power of two), as long Columns in [0, m). */
  private def positions(key: Column, m: Int, j: Int): Seq[Column] = {
    val log2m = require2(m)
    val mask = lit((m - 1).toLong)
    val h = Sampling.portableHash(key)
    val h1 = h.bitwiseAND(mask)
    val h2 = shiftright(h, log2m).bitwiseAND(mask).bitwiseOR(lit(1L))
    (0 until j).map(i => (h1 + lit(i.toLong) * h2).bitwiseAND(mask))
  }

  /** Build the m-bit Bloom bitset of `dim`'s key column as m/64 longs.
    * One small aggregate job: positions explode map-side, partials combine
    * per word before the exchange, ≤ m/64 rows collect to the driver. */
  def bloomWords(dim: DataFrame, key: Column, m: Int, j: Int): Array[Long] = {
    require2(m)
    val words = new Array[Long](m / 64)
    dim
      .select(explode(array(positions(key, m, j): _*)).as("pos"))
      .select(
        shiftright(col("pos"), 6).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          col("pos").bitwiseAND(lit(63L)).cast("int")).as("bit"))
      .groupBy(col("w"))
      .agg(expr("bit_or(bit)").as("bits"))
      .collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Membership probe: true iff all j bits of `key` are set in `words`.
    * False positives possible (rate ~ (1 - e^(-j·n/m))^j), false negatives
    * never — the exact join downstream restores exactness. */
  def mightContain(key: Column, words: Seq[Long], m: Int, j: Int): Column = {
    require(words.length == m / 64, s"words must hold m/64 = ${m / 64} longs")
    val bitset = typedLit(words)
    positions(key, m, j).map { pos =>
      val word = element_at(bitset, shiftright(pos, 6).cast("int") + 1)
      call_function("shiftright", word, pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** `fact SEMI JOIN dim` with the Bloom prefilter applied to the fact
    * side before the join: exact results, shuffle volume cut to the
    * filter's selectivity. `dim` is consumed twice (bitset build + exact
    * join) — cache it if it is itself expensive. */
  def bloomSemiJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, m: Int = 1 << 16, j: Int = 4): DataFrame = {
    val words = bloomWords(dim, col(dimKey), m, j)
    fact
      .where(mightContain(col(factKey), words.toSeq, m, j))
      .join(dim.select(col(dimKey)).distinct(), col(factKey) === col(dimKey), "left_semi")
  }

  /** The identical membership probe as DuckDB SQL text (interpolated into
    * oracles): `key` is a SQL sub-expression; `words` the built bitset.
    * Uses a VALUES-backed word table instead of an array literal purely
    * for SQL readability; bit math mirrors [[mightContain]] token for
    * token. */
  def mightContainSql(key: String, words: Array[Long], m: Int, j: Int): String = {
    val log2m = require2(m)
    val mask = m - 1
    val wordList = words.zipWithIndex
      .map { case (w, i) => s"($i, CAST($w AS BIGINT))" }.mkString(", ")
    val h = s"CAST(('0x' || substring(md5(CAST(($key) AS VARCHAR)),1,15)) AS BIGINT)"
    val probes = (0 until j).map { i =>
      val pos = s"(((($h) & $mask) + $i * ((( ($h) >> $log2m) & $mask) | 1)) & $mask)"
      s"""EXISTS (SELECT 1 FROM (VALUES $wordList) AS bw(w, bits)
         |  WHERE bw.w = ($pos) >> 6 AND ((bits >> (($pos) & 63)) & 1) = 1)""".stripMargin
    }
    probes.mkString("(", " AND ", ")")
  }

  val queries: Seq[QueryDef] = Seq(
    // Orders of BUILDING-segment customers via the Bloom-prefiltered semi
    // join. The oracle is the PLAIN semi join — passing it proves the
    // prefilter admits every true match and the exact join removes every
    // false positive (the operator's whole contract). BloomJoinSpec
    // separately pins the prefilter's own pass set against an independent
    // bit-by-bit reference, and PlanSpec pins the filter-below-join shape.
    QueryDef(
      "q101_bloom_semijoin",
      (s, dir) => {
        val dim = tbl(s, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING")
        BloomJoin.bloomSemiJoin(
            tbl(s, dir, "orders"), "o_custkey", dim, "c_custkey")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_custkey IN
             |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             |ORDER BY o_orderkey""".stripMargin),
    ),

    // The prefilter DECISION itself, cross-engine: rows PASSING the Bloom
    // probe (true matches AND false positives — m/j chosen so thousands of
    // false positives appear at the gate's sf0.01) with the
    // exact-membership flag. The
    // oracle rebuilds the bitset from the dim keys with DuckDB's bit_or
    // and re-derives every probe — proving pass/reject is a pure function
    // of the key set, bit-for-bit identical across engines (the q42
    // replicate-the-randomness pattern applied to a data-dependent
    // bitset).
    QueryDef(
      "q102_bloom_prefilter_audit",
      (s, dir) => {
        val m = 1 << 10
        val j = 2
        val dim = tbl(s, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING")
        val words = BloomJoin.bloomWords(dim, col("c_custkey"), m, j)
        tbl(s, dir, "orders")
          .where(BloomJoin.mightContain(col("o_custkey"), words.toSeq, m, j))
          .join(dim.select(col("c_custkey")).distinct(),
            col("o_custkey") === col("c_custkey"), "left_outer")
          .select(col("o_orderkey"), col("o_custkey"),
            col("c_custkey").isNotNull.as("is_match"))
          .orderBy(col("o_orderkey"))
      },
      Some {
        val m = 1 << 10
        val mask = m - 1
        val log2m = 10
        def h(k: String) =
          s"CAST(('0x' || substring(md5(CAST($k AS VARCHAR)),1,15)) AS BIGINT)"
        s"""WITH dimk AS (
           |  SELECT DISTINCT c_custkey AS k FROM customer
           |  WHERE c_mktsegment = 'BUILDING'),
           |dpos AS (
           |  SELECT ((h & $mask) + i * (((h >> $log2m) & $mask) | 1)) & $mask AS pos
           |  FROM (SELECT ${h("k")} AS h FROM dimk), generate_series(0, 1) AS g(i)),
           |words AS (
           |  -- HUGEINT: DuckDB's checked BIGINT << traps at shift 63
           |  SELECT pos // 64 AS w,
           |    bit_or(CAST(1 AS HUGEINT) << CAST(pos % 64 AS INTEGER)) AS bits
           |  FROM dpos GROUP BY 1),
           |fp AS (
           |  SELECT o_orderkey, o_custkey,
           |    ((h & $mask) + i * (((h >> $log2m) & $mask) | 1)) & $mask AS pos
           |  FROM (SELECT o_orderkey, o_custkey, ${h("o_custkey")} AS h FROM orders),
           |       generate_series(0, 1) AS g(i)),
           |hit AS (
           |  SELECT f.o_orderkey, f.o_custkey,
           |    COUNT(*) FILTER (
           |      WHERE ((w.bits >> CAST(f.pos % 64 AS INTEGER)) & 1) = 1) AS nhit
           |  FROM fp f JOIN words w ON w.w = f.pos // 64
           |  GROUP BY 1, 2)
           |SELECT o_orderkey, o_custkey,
           |  o_custkey IN (SELECT k FROM dimk) AS is_match
           |FROM hit WHERE nhit = 2 ORDER BY o_orderkey""".stripMargin
      },
    ),
  )
}
