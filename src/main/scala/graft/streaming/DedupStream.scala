package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental (streaming) near-duplicate detection: the online form
  * of Dedup's MinHash+LSH banding. Documents arrive as a stream; each
  * band row keys into a `flatMapGroupsWithState` group holding the
  * signatures seen in that bucket so far, and every arrival is
  * compared against ONLY its bucket-mates — the state per key stays
  * proportional to bucket size, never to the corpus.
  *
  * This is how dedup runs in a continuously-ingesting 100 TB
  * pipeline: the batch self-join is replaced by per-bucket state, and
  * a document is flagged the moment a near-dup lands, not at the next
  * batch rebuild. Banding is byte-identical to the batch path
  * (Dedup.bandsOf), so the candidate set provably matches — asserted
  * in DedupStreamSpec. Signature math is murmur3-seeded → rows-only
  * for the driver oracle.
  */

/** A band row entering the keyed state. */
case class BandRow(band_idx: Int, band_sig: String, doc_id: Long,
    sig: Seq[Long])

/** An emitted near-dup candidate (a_id < b_id). */
case class DupCand(a_id: Long, b_id: Long, est_jaccard: Double)

object DedupStream {

  private val EstThreshold = 0.5

  /** Built once per JVM, like EventStream's sessionization state encoder. */
  private implicit val seenState: Encoder[List[(Long, Seq[Long])]] = ExpressionEncoder()

  /** Streaming documents relation for an sf dir. */
  private def documentsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.util.Tables.documents(s, dir).schema
    graft.util.Tables.streamTable(s, dir, "documents", schema)
  }

  /** Near-dup candidate pairs with estimated Jaccard ≥ 0.5, found
    * incrementally. Pairs colliding in several bands dedup at the end
    * (same as the batch path's distinct()).
    */
  def streamingDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = graft.ops.Dedup.minhashSignatures(
      documentsStream(s, dir).select(col("doc_id"), col("text")))
    val bands = graft.ops.Dedup.bandsOf(sigs).as[BandRow]

    val pairs = bands.groupByKey(r => (r.band_idx, r.band_sig))
      .flatMapGroupsWithState[List[(Long, Seq[Long])], DupCand](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows: Iterator[BandRow],
            state: GroupState[List[(Long, Seq[Long])]]) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[DupCand]
          // iterator order within a batch is partition-dependent —
          // sort so the emitted pair set is deterministic
          for (r <- rows.toSeq.sortBy(_.doc_id)) {
            for ((otherId, otherSig) <- seen if otherId != r.doc_id) {
              val eq = r.sig.iterator.zip(otherSig.iterator)
                .count { case (x, y) => x == y }
              val est = eq.toDouble / graft.ops.Dedup.NumHashes
              if (est >= EstThreshold)
                out += DupCand(math.min(r.doc_id, otherId),
                  math.max(r.doc_id, otherId),
                  math.rint(est * 10000) / 10000)
            }
            seen = (r.doc_id, r.sig) :: seen
          }
          state.update(seen)
          out.result().iterator
      }

    EventStream.runToCompletion(s, pairs.toDF(), OutputMode.Append())
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Batches the last [[streamingLshIndex]] run processed — spec
    * instrumentation proving the landing really split across
    * micro-batches (a single-batch run would make the per-batch
    * mining vacuously identical to one batch pass).
    */
  private[graft] val lastIndexRunBatches =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming maintenance of the persisted LSH index — the pipe that
    * closes the loop between the batch-incremental path
    * (`dedup_lsh_incremental`: one daily delta folded in) and
    * continuous ingestion: the delta docs ARRIVE as a multi-batch
    * file stream, and every micro-batch (a) computes signatures +
    * band rows for its docs only, (b) mines candidates by probing the
    * batch's bands against base-index ∪ appended-so-far ∪ batch
    * bands, (c) exact-verifies and appends the new edges, and (d)
    * appends its signatures/bands to the index tables — the
    * `foreachBatch`-maintains-a-lake-table pattern (upsert-per-batch)
    * production streams use.
    *
    * Each delta-touching pair is mined EXACTLY ONCE, in the batch
    * where its later endpoint arrives (earlier endpoints are already
    * in the appended index; same-batch pairs collide within the batch
    * probe), so the final edge relation is a set union independent of
    * how the files split into batches — batch-boundary invariance by
    * construction, asserted against the batch-incremental path's edge
    * relation in DedupStreamSpec.
    *
    * FULL HASH ORACLE: the emitted surface (a_id, b_id, exact
    * jaccard ≥ 0.7) is the same post-verify relation as
    * `dedup_minhash_lsh` / `dedup_lsh_incremental`, so the same
    * DuckDB all-pairs replay proves the stream-maintained index
    * end-to-end — a streaming query with a full batch oracle.
    */
  def streamingLshIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.SaveMode
    val dedup = graft.ops.Dedup
    // landing: today's batch staged as FOUR files so the file source
    // genuinely splits it across micro-batches; memoized per corpus
    // (the landing is input, not run state)
    val landing = graft.util.ScratchIndex.materializePath(s,
      s"lshidx_landing_${graft.util.ScratchIndex.corpusTag(dir)}") { tmp =>
      graft.util.Delta.Documents.batch(graft.util.Tables.documents(s, dir)
        .select(col("doc_id"), col("text")))
        .repartition(4)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    // run state (appended index tables + checkpoint): FRESH per call —
    // appends accumulating across runs would duplicate the index
    val root = graft.util.ScratchIndex.dir(
      s"lshidx_run_${graft.util.ScratchIndex.corpusTag(dir)}")
    graft.util.ScratchIndex.deleteRecursively(root)
    val sigDir = s"$root/sigs"
    val edgeDir = s"$root/edges"
    // seed empty index tables with the exact schemas the appends use,
    // so batch 0's reads of "appended so far" are well-formed. (The
    // appended BAND layer was dropped in r17: later batches re-derive
    // band rows from the appended signatures with the narrow bandsOf
    // explode — delta-bounded per run — which removes one write job
    // and one read/listing per micro-batch; the BASE band index stays
    // persisted, that one is corpus-sized.)
    dedup.baseIndexSigs(s, dir).limit(0)
      .write.mode(SaveMode.Overwrite).parquet(sigDir)
    dedup.baseIndexEdges(s, dir).limit(0)
      .write.mode(SaveMode.Overwrite).parquet(edgeDir)

    lastIndexRunBatches.set(0)
    // The 4-partition stream clamp is kept even though this query has
    // no state store — MEASURED, not assumed: at .scale/sf10 the run
    // takes 27.8 s at 4 shuffle partitions and 46-68 s at the
    // session's 32, because every per-batch append writes
    // shuffle-partition-many files that every LATER batch re-reads
    // (4 batches × 32-file appends compound into hundreds of small
    // index files), and the per-batch jobs are too small to amortize
    // 32-way task overhead. A real daily stream would compact the
    // appended layer periodically (src_compaction is that operator).
    EventStream.drain(s)(s.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        lastIndexRunBatches.incrementAndGet(): Unit
        val bSigs = dedup.minhashSignatures(
          batch.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("sig"),
            dedup.shingles(col("text")).as("sh"))
          .persist()
        try {
          val bBands = dedup.bandsOf(bSigs)
            .select(col("doc_id"), col("band_idx"), col("band_sig"))
          val idxBands = dedup.baseIndexBands(ss, dir)
            .unionByName(dedup.bandsOf(ss.read.parquet(sigDir))
              .select(col("doc_id"), col("band_idx"), col("band_sig")))
            .unionByName(bBands)
          // the probe side is ONE micro-batch's band rows —
          // broadcast-sized by construction (a broadcast Delta in
          // Dedup.deltaVerifiedEdges) — so the index side streams
          // through the band join with no exchange
          val cand = idxBands.as("x").join(broadcast(bBands.as("y")),
              col("x.band_idx") === col("y.band_idx")
                && col("x.band_sig") === col("y.band_sig")
                && col("x.doc_id") =!= col("y.doc_id"))
            .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
              greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
            .distinct()
          val allSigs = dedup.baseIndexSigs(ss, dir)
            .unionByName(ss.read.parquet(sigDir))
            .unionByName(bSigs)
          // candidates are delta-bounded per batch: broadcast them
          // into both verify joins so the wide signature relation
          // (sig + shingle payloads) is never shuffled per batch
          dedup.verifyEdges(cand, allSigs, bcastCand = true)
            // edges: NOT coalesced — coalesce(1) here would collapse
            // the whole band-join + verify stage to one task
            // (measured: 67 s vs 26 s at sf10), and edgeDir is only
            // read once at the end, so its file count is harmless
            .write.mode(SaveMode.Append).parquet(edgeDir)
          // index append AFTER mining: the batch probed itself via
          // bBands, so appending first would only double-mine.
          // This layer IS re-read by every later batch, and the
          // write sits at a pipeline break (bSigs is persisted), so
          // one file per append costs nothing and avoids the
          // small-file tax
          bSigs.coalesce(1).write.mode(SaveMode.Append).parquet(sigDir)
        } finally { bSigs.unpersist(): Unit }
      }
      // checkpoint lives under the per-run root: the delete above must
      // clear it too, or a stale offsets WAL would make a repeat
      // run skip every (memoized) landing file and emit base-only
      .option("checkpointLocation", s"$root/ck")
      .start()): Unit

    s.read.parquet(edgeDir)
      .unionByName(dedup.baseIndexEdges(s, dir))
      .filter(col("jaccard") >= 0.7)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(desc("jaccard"), asc("a_id"), asc("b_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_dedup_minhash" -> (streamingDedup _),
    "stream_lsh_index" -> (streamingLshIndex _),
  )

  /** `stream_dedup_minhash`: murmur3-seeded signatures are not
    * DuckDB-replayable → rows-only; batch equivalence is asserted in
    * DedupStreamSpec. `stream_lsh_index` emits the post-verify
    * surface, which does not depend on the signature hashes → full
    * oracle (same all-pairs replay as the batch LSH queries).
    */
  val oracle: Map[String, String] = Map(
    "stream_lsh_index" -> graft.ops.Dedup.lshVerifiedSql,
  )
}
