package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver's synthetic testdata: reads the
  * tables at `srcDir` and writes a `factor`× corpus to `outDir`, modelling
  * the scaled data as `factor` disjoint ingest shards (the shape a real
  * 100 TB corpus has: many sources, each internally structured like the
  * small one). Used to turn the 100 TB plan-shape arguments in PLANS.md
  * into measured sf0.1 → sf1 scaling curves (see SCALING.md).
  *
  * Per-copy transforms are chosen so every workload family scales
  * LINEARLY in rows, not quadratically in accidental cross-copy matches:
  *
  *   - fact/dim keys: offset by `copy * (max_key + 1)` — copies are
  *     disjoint subgraphs (supplier co-order graph, CC, k-hop all get
  *     `factor` independent components, like TPC-H SF scaling).
  *   - `region`/`nation`: kept as-is (fixed dimensions, TPC-H style).
  *   - `documents.text`: per-copy alphabet cipher — pure Caesar shift
  *     for copies 0-25 (unchanged from earlier rounds), a deterministic
  *     seeded substitution permutation for copies ≥ 26 (a rotation would
  *     wrap at 26 and hand ~every document an exact cross-copy twin).
  *     Byte length, token structure, and per-copy Zipf shape are preserved
  *     exactly, but copies share (almost) no shingles, so near-dup joins
  *     (d7/d16 MinHash/Jaccard) see `factor`× the pairs, not `factor²`×.
  *   - `embeddings.embedding`: per-copy array rotation (+ a deterministic
  *     per-copy ±1 sign mask for copies ≥ 26 — small rotation lags of a
  *     smooth vector stay highly correlated, which at high factors
  *     manufactured cross-copy near-duplicate mass) — norm-preserving
  *     and within-copy geometry identical, cross-copy dot products
  *     scrambled, so ANN candidate structure scales linearly. `vec_id=0`
  *     (the pinned query vector of s2/s13/s15) stays unique to copy 0.
  *   - `events.ts` / `user_id`: timestamps kept, users offset — the
  *     streaming/session families see `factor`× concurrent users over the
  *     same wall-clock span, which is exactly how event volume grows.
  */
object GenScale {
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // 32 cores, not SPARK_GRAFT_CPUS: the generated corpus must not depend on the host
    val spark = GraftSession.create(32)

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def keyOffset(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // key spans, computed once from the source
    val custOff = keyOffset(tbl("customer"), "c_custkey")
    val suppOff = keyOffset(tbl("supplier"), "s_suppkey")
    val partOff = keyOffset(tbl("part"), "p_partkey")
    val ordOff = keyOffset(tbl("orders"), "o_orderkey")
    val docOff = keyOffset(tbl("documents"), "doc_id")
    val vecOff = keyOffset(tbl("embeddings"), "vec_id")
    val eidOff = keyOffset(tbl("events"), "event_id")
    val uidOff = keyOffset(tbl("events"), "user_id")

    // Per-copy text cipher. Copies 0-25 keep the original pure Caesar
    // rotation (byte-identical to the corpora behind CORRECTNESS_SF1/SF2
    // and the r13-r16 scaling matrices). Copies >= 26 CANNOT reuse a
    // rotation — `shift % 26` wraps, so at factor 50 copy i and copy i+26
    // carried IDENTICAL text: ~96% of documents gained an exact cross-copy
    // twin and every near-dup/substring family measured inflated
    // "duplicate mass" that was a generator artifact, not corpus shape
    // (caught in round 17 when the sf5 marginals jumped). Those copies now
    // draw a deterministic Fisher-Yates permutation of the alphabet
    // (substitution cipher, LCG-seeded by the copy index): byte length,
    // token structure and Zipf shape are still preserved exactly, and a
    // cross-copy shingle collision needs every letter of the shingle to
    // map identically — vanishing for 3+-grams.
    def alphaLower(copy: Int): String =
      if (copy < 26) Lower.drop(copy) + Lower.take(copy)
      else {
        val arr = Lower.toCharArray
        var s = copy.toLong * 6364136223846793005L + 1442695040888963407L
        def next(bound: Int): Int = {
          s = s * 6364136223846793005L + 1442695040888963407L
          ((s >>> 33) % bound).toInt
        }
        var i = arr.length - 1
        while (i > 0) {
          val j = next(i + 1)
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i -= 1
        }
        new String(arr)
      }
    def caesar(c: org.apache.spark.sql.Column, copy: Int): org.apache.spark.sql.Column = {
      val lo = alphaLower(copy)
      translate(c, Lower + Upper, lo + lo.toUpperCase)
    }

    /** union of `factor` transformed copies, written as one parquet dir */
    def scaled(name: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val src = tbl(name)
      val out = (0 until factor).map(i => copy(src, i)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"wrote $name x$factor")
    }

    scaled("region")((df, i) => if (i == 0) df else df.limit(0))
    scaled("nation")((df, i) => if (i == 0) df else df.limit(0))
    scaled("customer")((df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custOff)))
    scaled("supplier")((df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppOff)))
    scaled("part")((df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partOff)))
    scaled("orders")((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custOff)))
    scaled("lineitem")((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordOff))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppOff)))
    scaled("events")((df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eidOff))
        .withColumn("user_id", col("user_id") + lit(i * uidOff)))
    scaled("documents")((df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * docOff))
        .withColumn("text", caesar(col("text"), i)))
    scaled("embeddings") { (df, i) =>
      // rotation lag mod the 64-element dimension: a raw lag ≥ 64 hands
      // slice() a negative length (the r18 sf10/×100 failure — factors ≤ 50
      // never reached it); lag 64 is the identity rotation anyway. Copies
      // that alias a smaller copy's lag (i ≥ 64) stay distinct through the
      // per-copy sign mask below (all i ≥ 64 are also ≥ 26). Copies 0-49
      // are bit-identical to every committed corpus.
      val lag = i % 64
      val rot = if (lag == 0) col("embedding")
      else concat(
        slice(col("embedding"), lit(lag + 1), size(col("embedding")) - lit(lag)),
        slice(col("embedding"), lit(1), lit(lag)))
      // copies >= 26 additionally flip signs under a per-copy deterministic
      // ±1 mask (same r17 artifact class as the Caesar wrap: a smooth base
      // vector autocorrelates at small rotation lags, so high-factor
      // corpora gained cross-copy NEAR-duplicate mass that a disjoint
      // multi-source corpus wouldn't have — r16's d29 decomposition
      // measured cell_MAX 68→307→520 from exactly this). The mask is one
      // per copy, applied to every vector of the copy, so within-copy dot
      // products — the geometry every family measures — are untouched,
      // norms are preserved, and copies 0-25 stay byte-identical to the
      // sf1/sf2 corpora behind the committed artifacts.
      val masked =
        if (i < 26) rot
        else {
          var s = i.toLong * 2862933555777941757L + 3037000493L
          val mask = Seq.fill(64) {
            s = s * 2862933555777941757L + 3037000493L
            if (((s >>> 37) & 1L) == 0L) 1.0f else -1.0f
          }
          // zip_with pads the shorter array with nulls, so a corpus whose
          // embedding dimension drifted from 64 would silently gain null
          // elements / wrong-length vectors (ADVICE r17). Fail loudly
          // instead: the mask length is a build-time constant, so any
          // other dimension means the source corpus changed under us.
          when(size(rot) === lit(64),
            zip_with(rot, array(mask.map(lit): _*), (x, m) => x * m))
            .otherwise(raise_error(concat(
              lit(s"GenScale copy $i: embedding dim != 64 (got "),
              size(rot).cast("string"), lit(")"))))
        }
      df.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
        .withColumn("embedding", masked.cast("array<float>"))
    }
    spark.stop()
  }
}
