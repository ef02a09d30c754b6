package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Standing-corpus streaming measurement (SCALING.md's streaming section):
  * replays a scaled corpus through the three streaming production twins and
  * reports per-batch latency plus state size, so the "state stays bounded"
  * claim is measured, not argued.
  *
  *   1. `StreamingDedup.run` — stateful per-band-bucket first-claim LSH
  *      dedup (flatMapGroupsWithState): state rows = distinct band buckets
  *      seen, reported from the query progress after every micro-batch.
  *   2. `StreamingDedup.againstCorpus` — stream-static join of the incoming
  *      stream against the standing corpus' key set: stateless by design,
  *      per-batch cost tracks batch size however large the corpus is.
  *   3. `StreamingLmGate` — fit once on the standing corpus (frozen LM +
  *      tertile thresholds), then stateless per-batch scoring.
  *
  * Usage: `runMain graft.StreamBench [corpusDir] [nBatches]` (defaults
  * testdata-sf1, 8). Prints one JSON line per pipeline with per-batch
  * milliseconds and state rows.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("testdata-sf1")
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val spark = GraftSession.create()
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val corpus = Tables.documents(spark, dir).select(col("doc_id").cast("long"), col("text"))
    val docs = corpus.as[(Long, String)].collect().sortBy(_._1)
    // a missing/empty corpus would otherwise surface as grouped(0)'s opaque
    // IllegalArgumentException several stages later (ADVICE r11)
    require(docs.nonEmpty, s"StreamBench: no documents found under $dir/documents.parquet")
    def chunked[T](rows: Array[T]): IndexedSeq[IndexedSeq[T]] =
      rows.grouped(math.max(1, (rows.length + nBatches - 1) / nBatches))
        .map(_.toIndexedSeq).toIndexedSeq
    val chunks = chunked(docs)
    def r1(v: Double): String = f"$v%.1f"
    def report(name: String, fitMs: Double, batches: Seq[(Double, Long)],
        provider: String = "memory"): Unit = {
      if (batches.isEmpty) {
        System.err.println(s"[streambench] $name: no batches ran — skipping report")
        return
      }
      val ms = batches.map(_._1)
      val st = batches.map(_._2)
      println(s"""{"pipeline":"$name","corpus":"$dir","n_docs":${docs.length},""" +
        s""""state_store":"$provider","n_batches":${batches.size},"fit_ms":${r1(fitMs)},""" +
        s""""batch_ms":[${ms.map(r1).mkString(",")}],""" +
        s""""mean_batch_ms":${r1(ms.sum / ms.size)},"max_batch_ms":${r1(ms.max)},""" +
        s""""state_rows":[${st.mkString(",")}]}""")
    }
    /** Run `body`'s streaming queries under the RocksDB state store — the
      * provider a long-lived 100 TB-scale deployment runs, where state must
      * spill off-heap/to disk instead of living in executor memory (the
      * default HDFS-backed provider keeps every version's map ON-heap). The
      * provider class is read from the session conf at query start, so
      * set/restore around the body scopes it to these queries only.
      */
    def withRocksDb[T](body: => T): T = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    /** Feed a corpus chunk-by-chunk, timing each processAllAvailable and
      * reading the stateful operator's row count off the progress event.
      */
    def driveWith[T: org.apache.spark.sql.Encoder](batchData: IndexedSeq[IndexedSeq[T]])(
        mkQuery: MemoryStream[T] => org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[(Double, Long)] = {
      val input = MemoryStream[T]
      val q = mkQuery(input)
      val out = batchData.map { c =>
        val t0 = System.nanoTime()
        input.addData(c)
        q.processAllAvailable()
        val ms = (System.nanoTime() - t0) / 1e6
        val stateRows = Option(q.lastProgress)
          .flatMap(p => p.stateOperators.headOption)
          .map(_.numRowsTotal).getOrElse(0L)
        (ms, stateRows)
      }
      q.stop()
      out
    }
    def drive(
        mkQuery: MemoryStream[(Long, String)] => org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[(Double, Long)] = driveWith(chunks)(mkQuery)

    // 1. stateful LSH dedup: state = one row per distinct band bucket.
    //    Run under BOTH providers: the default in-memory HDFS-backed store
    //    (every committed version on-heap) and RocksDB (the bounded-memory
    //    provider a 100 TB deployment runs) — the matrix row pair measures
    //    the provider tax at identical state shape.
    def dedupRun() = drive { in =>
      streaming.StreamingDedup.run(in.toDS().toDF("doc_id", "text"))
        .writeStream.outputMode("append")
        .foreachBatch((df: org.apache.spark.sql.Dataset[streaming.DupCandidate], _: Long) =>
          { df.count(); () })
        .start()
    }
    report("lsh_dedup_stateful", 0.0, dedupRun())
    report("lsh_dedup_stateful", 0.0, withRocksDb(dedupRun()), provider = "rocksdb")

    // 2. stream-static incremental dedup against the standing corpus' keys
    val tCk = System.nanoTime()
    val pkey = array_join(slice(split(col("text"), " "), 1, 5), " ")
    val corpusKeys = corpus.select(pkey.as("pkey")).distinct().localCheckpoint()
    val ckMs = (System.nanoTime() - tCk) / 1e6
    val inc = drive { in =>
      streaming.StreamingDedup
        .againstCorpus(in.toDS().toDF("doc_id", "text"), corpusKeys)
        .writeStream.outputMode("append")
        .foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
        .start()
    }
    report("incremental_vs_corpus", ckMs, inc)

    // 3. frozen-LM perplexity gate: fit once, score statelessly per batch
    val tFit = System.nanoTime()
    val lm = streaming.StreamingLmGate.fit(corpus)
    val fitMs = (System.nanoTime() - tFit) / 1e6
    val gate = drive { in =>
      in.toDS().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch((df: DataFrame, _: Long) =>
          { streaming.StreamingLmGate.scoreBatch(df, lm)
              .groupBy(col("bucket")).count().collect(); () })
        .start()
    }
    report("lm_gate_frozen", fitMs, gate)

    // 4. streaming SemDeDup: width frozen at fit time by d29's adaptive
    //    formula over the standing corpus; state = one (id, 64-dim owner
    //    embedding) row per distinct LSH cell — O(distinct cells), never
    //    O(vectors)
    val embCorpus = Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long"), col("embedding"))
    val tSem = System.nanoTime()
    val kSem = streaming.StreamingSemDedup.fitK(embCorpus)
    val semFitMs = (System.nanoTime() - tSem) / 1e6
    val vecs = embCorpus.as[(Long, Array[Float])].collect().sortBy(_._1)
    if (vecs.isEmpty) System.err.println(s"[streambench] no embeddings under $dir — skipping semdedup")
    else {
      def semRun() = driveWith(chunked(vecs)) { in =>
        streaming.StreamingSemDedup.run(in.toDS().toDF("vec_id", "embedding"), kSem)
          .writeStream.outputMode("append")
          .foreachBatch((df: org.apache.spark.sql.Dataset[streaming.SemDupCandidate], _: Long) =>
            { df.count(); () })
          .start()
      }
      report(s"semdedup_stateful_k$kSem", semFitMs, semRun())
      report(s"semdedup_stateful_k$kSem", semFitMs, withRocksDb(semRun()),
        provider = "rocksdb")
    }

    // 5. streaming ANN serving: index fitted once at the adaptive width
    //    (count -> k -> compiled bucket pass -> localCheckpoint), then
    //    every micro-batch of queries is a STATELESS stream-static
    //    equi-join + rerank against it — per-batch cost tracks batch size,
    //    not stream lifetime
    if (vecs.nonEmpty) {
      val tIx = System.nanoTime()
      val ix = streaming.StreamingAnnServe.fit(embCorpus)
      ix.index.count() // force the checkpoint materialization into fit time
      val ixFitMs = (System.nanoTime() - tIx) / 1e6
      val serve = driveWith(chunked(vecs)) { in =>
        in.toDS().toDF("vec_id", "embedding")
          .writeStream.outputMode("append")
          .foreachBatch((df: DataFrame, _: Long) =>
            { streaming.StreamingAnnServe.serveBatch(df, ix).count(); () })
          .start()
      }
      report(s"ann_serve_k${ix.k}", ixFitMs, serve)
    }

    // 6. streaming HDR quantiles over the same 50k-doc corpus (group =
    //    source, value = token count): nothing fitted (log bucketing is
    //    value-range-adaptive by construction); the sketch IS a built-in
    //    streaming aggregation (map-side combined, fully parallel), state =
    //    one count row per (group, live bucket), <= ~2k per group FOREVER;
    //    per-batch p50/p90/p99 = the batch estimates plan applied to the
    //    Complete-mode snapshot — per-batch cost and state must stay flat
    val tokenCounts = Tables.documents(spark, dir)
      .select(col("source").cast("string"), size(split(col("text"), " ")).cast("long"))
      .as[(String, Long)].collect().sortBy(_._2)
    if (tokenCounts.isEmpty) System.err.println(s"[streambench] no documents under $dir — skipping hdr")
    else {
      def hdrRun() = driveWith(chunked(tokenCounts)) { in =>
        streaming.StreamingHdrQuantiles.sketchCounts(in.toDS().toDF("group", "v"))
          .writeStream.outputMode("complete")
          .foreachBatch((df: DataFrame, _: Long) =>
            { streaming.StreamingHdrQuantiles.quantilesOf(df).collect(); () })
          .start()
      }
      report("hdr_quantiles_stateful", 0.0, hdrRun())
      report("hdr_quantiles_stateful", 0.0, withRocksDb(hdrRun()), provider = "rocksdb")
    }

    // 7. streaming priority sampling: the bounded PrioritySampleK sketch
    //    as the streaming-aggregation state — AT MOST k=25 rows per source
    //    FOREVER (set-determined, so any batching yields the batch sample);
    //    nothing fitted, per-batch cost tracks batch size. The shared
    //    (id, text) chunks carry no source column, so key by the corpus'
    //    20-way srcN convention derived from the id
    val prio = driveWith(chunks) { in =>
      streaming.StreamingPrioritySample.run(in.toDS().toDF("doc_id", "text")
          .withColumn("source", concat(lit("src"), col("doc_id") % 20))
          .select(col("doc_id"), col("source"), col("text")))
        .writeStream.outputMode("complete")
        .foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
        .start()
    }
    report("priority_sample_stateful", 0.0, prio)

    // 8. streaming KMV distinct counting: the bounded KmvSketch as the
    //    aggregation state — k=64 longs per source FOREVER; lifetime
    //    distinct-content estimate per source from a stream, state never
    //    tracks the corpus. Same synthetic 20-way source key as (7).
    val dk = driveWith(chunks) { in =>
      streaming.StreamingDistinctKmv.run(
        in.toDS().toDF("doc_id", "text")
          .select(concat(lit("src"), col("doc_id") % 20).as("group"),
            graft.functions.TextOps.fingerprint(
              graft.functions.TextOps.tokens(col("text"))).as("h")))
        .writeStream.outputMode("complete")
        .foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
        .start()
    }
    report("kmv_distinct_stateful", 0.0, dk)

    // 9. streaming Count-Min point frequencies: the CMS cells as the
    //    aggregation state — <= 4x512 = 2,048 count rows FOREVER however
    //    long the stream runs or however the vocabulary grows; nothing
    //    fitted (fixed hash rows). Each batch re-probes the watchlist (the
    //    t26 probe shape) from the Complete-mode snapshot.
    val cmsProbe = Tables.documents(spark, dir)
      .filter(col("doc_id") < 10)
      .select(explode(split(col("text"), " ")).as("token")).distinct()
      .localCheckpoint()
    val cms = driveWith(chunks) { in =>
      streaming.StreamingCmsFrequency.sketchCells(
        in.toDS().toDF("doc_id", "text")
          .select(explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
          .select(graft.functions.TextOps.tokenHash(col("token")).as("h")))
        .writeStream.outputMode("complete")
        .foreachBatch((df: DataFrame, _: Long) => {
          // materialize the <= 2,048-cell snapshot OFF the state store
          // first (localCheckpoint runs a normal job over every partition,
          // so the store's per-batch commit accounting is satisfied), then
          // probe the pinned copy — the tiny cell table would otherwise be
          // auto-broadcast and collected on a side path that skips the
          // commit hooks (Spark's batch-commit validation rejects that)
          streaming.StreamingCmsFrequency.probeOf(df.localCheckpoint(), cmsProbe,
            graft.functions.TextOps.tokenHash(col("token")), col("token")).count()
          ()
        })
        .start()
    }
    report("cms_pointfreq_stateful", 0.0, cms)

    // 10. WINDOWED CMS (watermark append) over the events corpus in
    //     event-time order: unlike the lifetime sketches above, whose
    //     state converges to its bound and stays, windowed state holds
    //     only IN-FLIGHT windows' cells and the watermark EVICTS each
    //     window as it finalizes — measured state_rows stays pinned at
    //     ONE window's 4x512 cells for the whole multi-day replay
    //     (each day's window closes as the next day's events arrive),
    //     never accumulating the already-finalized days
    val evs = Tables.events(spark, dir)
      .select(col("ts"),
        ((lit(2654435761L) * col("user_id") + lit(12345L)) %
          graft.ops.CmsSketch.P).as("h"))
      .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime)
    if (evs.isEmpty) System.err.println(s"[streambench] no events under $dir — skipping windowed cms")
    else {
      val wcms = driveWith(chunked(evs)) { in =>
        streaming.StreamingCmsFrequency
          .windowedSketchCells(in.toDS().toDF("ts", "h"), "1 day", "1 hour")
          .writeStream.outputMode("append")
          .foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
          .start()
      }
      report("cms_windowed_evicting", 0.0, wcms)
    }

    // 11. streaming AMS F2 skew watch over the token stream (Zipf-skewed,
    //     so the second moment is a live signal): state = 16 sign-sum
    //     longs FOREVER — the smallest sketch in the suite; each batch
    //     re-derives the F2 estimate from the Complete-mode snapshot
    //     (localCheckpoint first — same state-store commit-accounting
    //     rule as (9), trivial at 16 rows). This is the planning feed
    //     x39_ams_salt turns into a salt width.
    val ams = driveWith(chunks) { in =>
      streaming.StreamingAmsF2.sketchSums(
        in.toDS().toDF("doc_id", "text")
          .select(explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
          .select(graft.functions.TextOps.tokenHash(col("token")).as("h")))
        .writeStream.outputMode("complete")
        .foreachBatch((df: DataFrame, _: Long) => {
          streaming.StreamingAmsF2.estimateOf(df.localCheckpoint()).collect()
          ()
        })
        .start()
    }
    report("ams_f2_skew_watch", 0.0, ams)

    // 12/13. WINDOWED AMS skew + WINDOWED KMV uniques (watermark append)
    //     over the events corpus in event-time order — the e23/e24 twins'
    //     eviction lifecycle at scale, completing the windowed symmetry
    //     beside (10): state holds only in-flight windows (16 sign-sums /
    //     one ≤64-long buffer per window) and each finalized day is
    //     EVICTED as the next day's events arrive.
    val evAms = Tables.events(spark, dir)
      .select(col("ts"),
        ((lit(2654435761L) * col("user_id") + lit(12345L)) %
          graft.ops.AmsSketch.P).as("h"))
      .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime)
    if (evAms.isEmpty) System.err.println(s"[streambench] no events under $dir — skipping windowed ams/kmv")
    else {
      val wams = driveWith(chunked(evAms)) { in =>
        streaming.StreamingAmsF2
          .windowedSketchSums(in.toDS().toDF("ts", "h"), "1 day", "1 hour")
          .writeStream.outputMode("append")
          .foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
          .start()
      }
      report("ams_windowed_evicting", 0.0, wams)

      val wkmv = driveWith(chunked(evAms)) { in =>
        streaming.StreamingDistinctKmv
          .windowed(in.toDS().toDF("ts", "h"), "1 day", "1 hour")
          .writeStream.outputMode("append")
          .foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
          .start()
      }
      report("kmv_windowed_evicting", 0.0, wkmv)
    }

    // 14. streaming cross-codec image dedup: each document's plane stored
    //     as PNG (even doc_id) or lossy JPEG (odd), hashed by the shared
    //     aHash fold over its OWN decoded container — state = one owner per
    //     DISTINCT perceptual hash, never per image, so the state-row
    //     column reads distinct-content cardinality while payload bytes
    //     never leave the scan stage. The encode cost is charged to corpus
    //     prep (fit column), mirroring how a real corpus arrives already
    //     encoded.
    val tEnc = System.nanoTime()
    val payloadCol = encode(col("text"), "UTF-8")
    val imgs = corpus
      .select(col("doc_id").cast("long"),
        when(col("doc_id") % 2 === 0,
          graft.functions.MediaExpressions.pngEncodeGray(payloadCol, 16))
          .otherwise(graft.functions.MediaExpressions.jpegEncodeGray(payloadCol, 16, 0.95f))
          .as("img"))
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    val encMs = (System.nanoTime() - tEnc) / 1e6
    val imgDedup = driveWith(chunked(imgs)) { in =>
      streaming.StreamingImageDedup.run(in.toDS().toDF("doc_id", "img"))
        .writeStream.outputMode("append")
        .foreachBatch((df: org.apache.spark.sql.Dataset[streaming.ImageDup], _: Long) =>
          { df.count(); () })
        .start()
    }
    report("image_ahash_dedup_stateful", encMs, imgDedup)

    // 15. streaming substring dedup (d31's twin): every stride-1 10-gram
    //     rides its u64 rolling fingerprint into per-gram first-claim
    //     state; a gram's second observation surfaces BOTH positions as
    //     duplicated-span members. State = one ~25-byte row per DISTINCT
    //     gram fingerprint (the streaming analog of d31's df≥2 aggregate
    //     — O(gram vocabulary), never O(corpus positions)); per-batch
    //     output feeds the same interval-merge plan batch d31 runs.
    def subRun() = drive { in =>
      streaming.StreamingSubstringDedup.run(in.toDS().toDF("doc_id", "text"))
        .writeStream.outputMode("append")
        .foreachBatch((df: org.apache.spark.sql.Dataset[streaming.DupGramPos], _: Long) =>
          { df.count(); () })
        .start()
    }
    report("substring_dedup_stateful", 0.0, subRun())
    // the LARGEST state table in the suite (one row per distinct gram
    // fingerprint — O(gram vocabulary)), so the most informative RocksDB row
    report("substring_dedup_stateful", 0.0, withRocksDb(subRun()), provider = "rocksdb")

    spark.stop()
  }
}
