package graft.tools

import org.apache.spark.sql.functions._

/** Measures INCREMENTAL STORE MAINTENANCE (round-18; events tier
  * round-19): cold build vs append-merge task-cpu for the persisted
  * stores, on scratch copies of the sf corpus grown by a ~5% batch
  * (staging shared with Bench's merge_builds rows — [[MergeStage]]).
  * The SCALE.md evidence that `Warehouse.servedFrameMerged`'s merge
  * lane costs ≪ the cold rebuild it replaces (correctness — merged ≡
  * cold bit for bit — is WarehouseSpec's job; this is the economics).
  *
  * Usage: ProfMerge [sfDir]  (default /root/testdata/sf0.1)
  */
object ProfMerge {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = Prof.session()
    val clock = graft.Metrics.installTaskClock(spark.sparkContext)
    def window[T](name: String)(f: => T): T = {
      val (r0, c0) = clock.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      val (r1, c1) = clock.snapshot(spark.sparkContext)
      println(f"[merge] $name%-34s cpu ${c1 - c0}%6.2f run ${r1 - r0}%6.2f wall $wall%6.2f")
      r
    }
    val dir = java.nio.file.Files.createTempDirectory("mergeprof").toString
    MergeStage.stage(spark, src, dir, "documents")
    MergeStage.stage(spark, src, dir, "events")
    MergeStage.stage(spark, src, dir, "embeddings")
    def fam(name: String, table: String, fp: String)
           (cold: => org.apache.spark.sql.DataFrame)
           (merge: (org.apache.spark.sql.DataFrame,
                    org.apache.spark.sql.DataFrame) =>
                     Option[org.apache.spark.sql.DataFrame]): Long =
      graft.sources.Warehouse.servedFrameMerged(
        spark, name, dir, table, fp)(cold)(merge).count()
    val docs = () => spark.read.parquet(s"$dir/documents.parquet")
    val dFp1 = graft.sources.Warehouse.docsFp(spark, dir)
    val eFp1 = graft.sources.Warehouse.eventsFp(spark, dir)
    // COLD builds at the base corpus (production callbacks verbatim).
    window("minhash_bands COLD")(fam("pm_bands", "documents", dFp1)(
      graft.operators.Dedup.minhashBandIndex(docs()))(
      (old, b) => Some(old.unionByName(
        graft.operators.Dedup.minhashBandIndex(b)))))
    window("cdc_chunks COLD")(fam("pm_cdc", "documents", dFp1)(
      graft.operators.Dedup.cdcChunks(docs()))(
      (old, b) => Some(old.unionByName(graft.operators.Dedup.cdcChunks(b)))))
    window("ngram_pairs COLD")(fam("pm_ngram", "documents", dFp1)(
      graft.operators.Dedup.ngramPairs(docs()))(
      (old, b) => Some(old.unionByName(
        graft.operators.Dedup.ngramPairsTouching(docs(),
          b.select(col("doc_id")))))))
    window("ev_trans COLD")(fam("pm_evtr", "events", eFp1)(
      graft.operators.Events.transStore(graft.Tables.events(spark, dir)))(
      graft.operators.Events.transStoreMerged))
    window("ev_user_days COLD")(fam("pm_evud", "events", eFp1)(
      graft.operators.Events.userDays(graft.Tables.events(spark, dir)))(
      graft.operators.Events.userDaysMerged))
    val vbW = graft.operators.Curation.deriveShingleWidth(docs().count())
    window("vb_index COLD")(fam("pm_vbidx", "documents", dFp1)(
      graft.operators.Curation.verbatimIndexStore(docs(), vbW))(
      graft.operators.Curation.verbatimIndexMerged(vbW)))
    // The cc labels read their pair frame from the pm_ngram store
    // (production shape: the pair store resolves first and the cc
    // build is pure star/label work, no re-shingle) — re-resolving
    // pm_ngram at the same fp is a warehouse HIT, i.e. a table read.
    def pairsStore(fp: String) = graft.sources.Warehouse.servedFrameMerged(
      spark, "pm_ngram", dir, "documents", fp)(
      graft.operators.Dedup.ngramPairs(docs()))(
      (old, b) => Some(old.unionByName(
        graft.operators.Dedup.ngramPairsTouching(docs(),
          b.select(col("doc_id"))))))
    window("ngram_cc COLD")(fam("pm_cc", "documents", dFp1)(
      graft.operators.Dedup.connectedComponents(
        pairsStore(dFp1).select(col("doc_a"), col("doc_b"))))(
      (old, delta) => Some(graft.operators.Dedup.ccLabelsMerged(old,
        pairsStore(dFp1).select(col("doc_a"), col("doc_b")),
        delta.select(col("doc_id"))))))
    // PQ code store (round-20): encode cold vs delta-only encode at
    // the fixed derived code count (the pqCodeStore callbacks).
    def pqCb() = graft.operators.Similarity.pqCodebook(
      graft.operators.Similarity.quantizedVectors(
        graft.Tables.embeddings(spark, dir)),
      graft.operators.Similarity.derivePqCodes(
        graft.Tables.embeddings(spark, dir).count()))
    val vFp1 = graft.sources.Warehouse.embFp(spark, dir)
    window("pq_codes COLD")(fam("pm_pqc", "embeddings", vFp1)(
      graft.operators.Similarity.pqEncodeWith(
        graft.operators.Similarity.quantizedVectors(
          graft.Tables.embeddings(spark, dir)), pqCb()))(
      (old, b) => Some(old.unionByName(
        graft.operators.Similarity.pqEncodeWith(
          graft.operators.Similarity.quantizedVectors(b), pqCb())))))
    // Grow both corpora ~5% (one appended part file each), then resolve
    // the new fingerprints: the MERGE lane.
    val nd = MergeStage.append(spark, dir, "documents", "doc_id")
    val ne = MergeStage.append(spark, dir, "events", "event_id")
    println(s"[merge] appended $nd docs, $ne events (~5% each)")
    val dFp2 = graft.sources.Warehouse.docsFp(spark, dir)
    val eFp2 = graft.sources.Warehouse.eventsFp(spark, dir)
    def noCold = sys.error("cold must not run"): org.apache.spark.sql.DataFrame
    window("minhash_bands MERGE (+5%)")(fam("pm_bands", "documents", dFp2)(
      noCold)((old, b) => Some(old.unionByName(
        graft.operators.Dedup.minhashBandIndex(b)))))
    window("cdc_chunks MERGE (+5%)")(fam("pm_cdc", "documents", dFp2)(
      noCold)((old, b) => Some(old.unionByName(
        graft.operators.Dedup.cdcChunks(b)))))
    window("ngram_pairs MERGE (+5%)")(fam("pm_ngram", "documents", dFp2)(
      noCold)((old, b) => Some(old.unionByName(
        graft.operators.Dedup.ngramPairsTouching(docs(),
          b.select(col("doc_id")))))))
    window("ev_trans MERGE (+5%)")(fam("pm_evtr", "events", eFp2)(
      noCold)(graft.operators.Events.transStoreMerged))
    window("ev_user_days MERGE (+5%)")(fam("pm_evud", "events", eFp2)(
      noCold)(graft.operators.Events.userDaysMerged))
    window("vb_index MERGE (+5%)")(fam("pm_vbidx", "documents", dFp2)(
      noCold)(graft.operators.Curation.verbatimIndexMerged(vbW)))
    window("ngram_cc MERGE (+5%)")(fam("pm_cc", "documents", dFp2)(
      noCold)((old, delta) => Some(graft.operators.Dedup.ccLabelsMerged(old,
        pairsStore(dFp2).select(col("doc_a"), col("doc_b")),
        delta.select(col("doc_id"))))))
    // Embeddings grow ~2% (stride 50 — inside the derivePqCodes block,
    // the MergeOracleStage convention).
    val nv = MergeStage.append(spark, dir, "embeddings", "vec_id", 50)
    println(s"[merge] appended $nv embeddings (~2%)")
    val vFp2 = graft.sources.Warehouse.embFp(spark, dir)
    window("pq_codes MERGE (+2%)")(fam("pm_pqc", "embeddings", vFp2)(
      noCold)((old, b) => Some(old.unionByName(
        graft.operators.Similarity.pqEncodeWith(
          graft.operators.Similarity.quantizedVectors(b), pqCb())))))
    MergeStage.cleanup(spark, dir)
    spark.stop()
  }
}
