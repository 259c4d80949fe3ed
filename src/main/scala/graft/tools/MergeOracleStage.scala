package graft.tools

/** Stage an append-grown corpus whose serving stores are PUBLISHED BY
  * THE MERGE LANES, for an independent DuckDB referee pass (round-19
  * for the documents/events lanes; round-20 adds the embeddings-sourced
  * lanes — emb_pairs, emb_cc, lsh_buckets, knn_truth — per ADVICE):
  *
  *   1. copy sf0.1's documents/events/embeddings into a scratch
  *      multi-part directory (MergeStage — the shape production ingest
  *      appends to);
  *   2. resolve every lane-maintained store COLD at the base state
  *      (pairs + cc labels, verbatim chain, minhash/simhash/cdc
  *      sketches, phash sketch + cc, events stores, embedding pairs +
  *      emb CC, LSH buckets, brute kNN truth);
  *   3. append one part file per table — ~5% for documents/events
  *      (events ts-shifted, a valid per-user continuation), ~2% for
  *      embeddings (stride 50: 2000 → 2040 stays inside the 8-plane
  *      derivePlanes block, so the plane-knob lanes MERGE instead of
  *      declining — the decline arm is WarehouseSpec's job);
  *   4. re-resolve in a FRESH session (store frames memoize per
  *      session): the append-merge lanes publish the grown stores.
  *
  * A subsequent `graft.Verify <outDir> … <store-fed keys>` then hits
  * exactly those merge-produced tables from a fresh JVM, and
  * `tools/check_oracle.py` hash-compares each consumer key against
  * DuckDB replaying the SAME grown parquet — merge ≡ cold under the
  * oracle, one referee removed from the engine.
  *
  * Usage: MergeOracleStage [srcDir] [outDir]
  */
object MergeOracleStage {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfmerge01")
    val spark = Prof.session()
    MergeStage.stage(spark, src, out, "documents")
    MergeStage.stage(spark, src, out, "events")
    MergeStage.stage(spark, src, out, "embeddings")
    def warmAll(s: org.apache.spark.sql.SparkSession): Unit = {
      graft.operators.Dedup.warmMinhashBands(s, out)
      graft.operators.Dedup.warmSimhashSketches(s, out)
      graft.operators.Dedup.warmCdcChunks(s, out)
      graft.operators.Dedup.warmClusterLabels(s, out)
      graft.operators.Curation.warmVerbatimArtifacts(s, out)
      graft.operators.Multimodal.warmPhashClusterLabels(s, out)
      graft.operators.Events.warmEventsStores(s, out)
      graft.operators.Dedup.warmEmbPairs(s, out)
      graft.operators.Similarity.warmLshBuckets(s, out)
      graft.operators.Similarity.warmKnnTruth(s, out)
    }
    warmAll(spark)
    println("[mergeoracle] base stores resolved cold")
    val nd = MergeStage.append(spark, out, "documents", "doc_id")
    val ne = MergeStage.append(spark, out, "events", "event_id")
    val nv = MergeStage.append(spark, out, "embeddings", "vec_id", stride = 50)
    println(s"[mergeoracle] appended $nd docs, $ne events (~5%), " +
      s"$nv embeddings (~2%, inside the plane block)")
    // Fresh session: store frames memoize per session, so this is the
    // new-ingest-process resolution at the merge lanes' fingerprint.
    warmAll(spark.newSession())
    println("[mergeoracle] stores re-resolved at the grown state " +
      "(merge lanes published; check the Warehouse 'merge lane' log lines)")
    spark.stop()
  }
}
