package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.8 [EXT]): opaque binary
  * payloads + typed metadata, with the decode step STUBBED (the
  * container has no image/audio codecs) behind a deterministic fake.
  *
  * What is REAL and load-bearing here, exactly as it would be at
  * 100 TB:
  *  - the schema contract: `payload BINARY` + `meta STRUCT<...>`
  *    (parquet stores binary natively; metadata prunes without
  *    touching payload bytes);
  *  - the batched per-partition decode shape ([[decodeBatched]]):
  *    `mapPartitions` so a real codec would amortize init per
  *    partition (exactly where a Pandas-UDF/Arrow batch would sit in
  *    PySpark, and where a JNI codec sits in Scala);
  *  - partitioning: decode is a narrow transformation — no shuffle.
  *
  * Only [[FakeCodec.decode]] is fake, and deliberately deterministic
  * so the oracle-facing query ([[mmMeta]]) can pin the plumbing.
  */
object MultimodalOps {
  type Q = (SparkSession, String) => DataFrame

  /** The decoded-media metadata contract. */
  final case class MediaMeta(
      byte_len: Long, width: Long, height: Long, n_frames: Long,
      format: String)

  /** Deterministic stand-in for a real image/video codec. A real
    * implementation would parse payload headers; this derives the
    * same fields from payload length + a row key so tests and oracle
    * agree. */
  object FakeCodec {
    def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      val n = payload.length.toLong
      MediaMeta(
        byte_len = n,
        width = 16 + n % 64,
        height = 16 + (n * 31) % 64,
        n_frames = 1 + docId % 8,
        format = (n % 3) match {
          case 0 => "rgb"; case 1 => "yuv"; case _ => "gray"
        })
    }
  }

  /** Typed input/output rows for the decode step — the Encoders keep
    * the whole path in Tungsten binary rows (no `Row` boxing, no
    * `.rdd` detour). */
  final case class MediaIn(doc_id: Long, payload: Array[Byte])
  final case class DecodedMeta(
      doc_id: Long, byte_len: Long, width: Long, height: Long,
      n_frames: Long, format: String)

  /** Binary payload column derived from text (the testdata has no
    * real media; the bytes are opaque to everything downstream). */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** The real decode shape: typed per-partition iteration, the
    * batching point where a real codec (JNI, or an Arrow batch in
    * PySpark) would init once per partition. Narrow — no shuffle,
    * stays in Tungsten via the product Encoders. */
  def decodeBatched(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    withPayload(docs).as[MediaIn].mapPartitions { it =>
      // a real codec would init once here (per partition, per core)
      it.map { r =>
        val m = FakeCodec.decode(r.doc_id, r.payload)
        DecodedMeta(r.doc_id, m.byte_len, m.width, m.height, m.n_frames,
          m.format)
      }
    }.toDF()
  }

  /** Oracle-facing projection of the same metadata, expressed in pure
    * SQL functions (pins the byte-length semantics + fake-decode
    * arithmetic; [[MultimodalSpec]] asserts decodeBatched matches). */
  val mmMeta: Q = (s, d) =>
    graft.sources.Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"))
      .select(col("doc_id"), col("byte_len"),
        (lit(16L) + col("byte_len") % 64).as("width"),
        (lit(16L) + (col("byte_len") * 31) % 64).as("height"),
        (lit(1L) + col("doc_id") % 8).as("n_frames"),
        when(col("byte_len") % 3 === 0, "rgb")
          .when(col("byte_len") % 3 === 1, "yuv")
          .otherwise("gray").as("format"))
      .orderBy("doc_id")

  /** Resize planning over decoded metadata: fit width to 224 px,
    * preserve aspect ratio with integer arithmetic (deterministic —
    * a real resize kernel would consume this plan per batch in
    * [[decodeBatched]]'s mapPartitions slot). */
  val mmResize: Q = (s, d) =>
    mmMeta(s, d)
      .select(col("doc_id"), col("width"), col("height"),
        lit(224L).as("out_w"),
        expr("height * 224 div width").as("out_h"))
      .orderBy("doc_id")

  /** Frame sampling: every 2nd frame index per media row — the
    * explode-shaped plumbing a video pipeline uses to turn one row
    * per clip into one row per sampled frame (narrow until the
    * explode, then ∝ sampled frames, never ∝ raw frames). */
  val mmFrameSample: Q = (s, d) =>
    mmMeta(s, d)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(2L)))
          .as("frame_idx"))
      .orderBy("doc_id", "frame_idx")

  /** Fixed chunk size for [[mmChunk]] (bytes). */
  val ChunkBytes = 256L

  /** Byte-range chunking of the opaque payload — the shard step an
    * audio/video pipeline uses to turn one row per media file into
    * fixed-size processing units (one row per chunk with its offset
    * and true sliced length). The slice is a REAL binary substring on
    * the payload column (narrow, no shuffle; cost ∝ output chunks),
    * so the plumbing a real codec consumes is exercised end-to-end —
    * [[graft.MultimodalSpec]] additionally pins that concatenating a
    * doc's chunks reproduces the payload byte-for-byte. The oracle
    * mirrors the slice through VARCHAR substring + octet_length
    * (DuckDB 1.0 has no BLOB substring; the corpus is ASCII, where
    * byte and char offsets coincide — asserted in the spec). */
  val mmChunk: Q = (s, d) =>
    withPayload(graft.sources.Tables.documents(s, d))
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .filter(col("byte_len") > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0L),
          expr(s"(byte_len + ${ChunkBytes - 1}) div $ChunkBytes - 1"))))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkBytes).as("offset"),
        length(expr(
          s"substring(payload, CAST(chunk_idx * $ChunkBytes + 1 AS INT), $ChunkBytes)"))
          .cast("long").as("chunk_len"))
      .orderBy("doc_id", "chunk_idx")

  /** Content-defined chunking over the payload — [[mmChunk]]'s
    * dedup-robust sibling: boundaries fall where the rolling hash of
    * the trailing [[graft.functions.CdcBoundaries.Window]] bytes hits
    * 0 mod [[graft.functions.CdcBoundaries.Divisor]], so an insertion
    * early in a payload re-synchronizes within one window and the
    * unchanged tail re-chunks IDENTICALLY (fixed ranges shift every
    * boundary after an edit — every downstream chunk digest changes;
    * MultimodalSpec pins the re-sync property). Chunk digests from
    * this feed [[mmPayloadDedup]]-style digest dedup at sub-file
    * granularity.
    *
    * Scale shape: the boundary scan is one codegen'd O(n) pass per
    * row ([[graft.functions.CdcBoundaries]]), the chunk reshape a
    * posexplode — narrow end to end, cost ∝ payload bytes. */
  val mmCdcChunk: Q = (s, d) =>
    withPayload(graft.sources.Tables.documents(s, d))
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .filter(col("byte_len") > 0)
      .withColumn("bs", org.apache.spark.sql.GraftColumn(
        graft.functions.CdcBoundaries(
          org.apache.spark.sql.GraftColumn.expr(col("payload")))))
      .withColumn("starts", concat(array(lit(0L)), col("bs")))
      .withColumn("ends", concat(col("bs"), array(col("byte_len"))))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("starts"), col("ends")))
          .as(Seq("chunk_idx", "se")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("se.starts").as("offset"),
        (col("se.ends") - col("se.starts")).as("chunk_len"))
      .orderBy("doc_id", "chunk_idx")

  /** Sub-file dedup over the content-defined chunks — the payoff of
    * [[mmCdcChunk]]: each CDC chunk's bytes are digested and grouped,
    * so byte ranges SHARED between different payloads surface even
    * when the containing files differ (the backup-dedup model:
    * storage ∝ distinct chunks, not total bytes). The digest relation
    * is what a chunk store persists; `n_docs > 1` rows are the
    * cross-file savings. Shape: boundary scan + slice + md5 are one
    * narrow codegen'd pass, then a single combinable groupBy on the
    * 16-byte digest — payload bytes never shuffle. */
  val mmCdcDedup: Q = (s, d) =>
    chunkStore(s, d)
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("chunk_len")).as("chunk_len"))
      .orderBy("chunk_md5")

  /** Storage-savings accounting (`mm_dedup_savings`) — the capacity
    * number the content-addressed store earns: per media format, the
    * payload bytes ingested (every chunk reference) vs the bytes
    * actually STORED (each distinct chunk once, attributed to the
    * format of its OWNING doc — min doc_id, the same ownership rule
    * the GC and strip passes use). The savings ratio is the
    * token-level `dedup_savings` on the byte axis — it sizes the
    * store, not the corpus. Exactness: chunk lengths partition
    * payload lengths by construction, so every number is an integer
    * byte count off the persisted chunk store; the ratio is one
    * division. Plan: two combinable rollups over the store + one
    * broadcast-able format join; output is O(formats). */
  val mmDedupSavings: Q = (s, d) => {
    val fmt = graft.sources.Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"))
      .select(col("doc_id"),
        when(col("byte_len") % 3 === 0, "rgb")
          .when(col("byte_len") % 3 === 1, "yuv")
          .otherwise("gray").as("format"))
    val store = chunkStore(s, d)
    val ingested = store.join(fmt, "doc_id")
      .groupBy(col("format"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_refs"),
        sum(col("chunk_len")).as("total_bytes"))
    val stored = store.groupBy(col("chunk_md5"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("chunk_len")).as("chunk_len"))
      .join(fmt, "doc_id")
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_unique_chunks"),
        sum(col("chunk_len")).as("stored_bytes"))
    // left join: a format whose every chunk is owned by another
    // format's doc still reports (with zero stored bytes), not drops
    ingested.join(stored, Seq("format"), "left")
      .na.fill(0L, Seq("n_unique_chunks", "stored_bytes"))
      .select(col("format"), col("n_docs"), col("n_refs"),
        col("total_bytes"), col("n_unique_chunks"), col("stored_bytes"),
        ((col("total_bytes") - col("stored_bytes")).cast("double") /
          col("total_bytes").cast("double")).as("savings"))
      .orderBy("format")
  }

  // ------------------------------------------------------------------
  // Perceptual near-dup: MinHash-LSH over the CDC chunk-digest SET,
  // with a SimHash fingerprint as the perceptual distance
  // ------------------------------------------------------------------

  /** One perceptual index per (session, dataset, mtime) — the media
    * sibling of [[DedupOps]]'s LSH bucket index (same [[IndexCache]]
    * discipline: mtime-keyed, superseded entries evicted). */
  private val nearDupCache = new IndexCache

  /** One persisted CHUNK STORE per (session, dataset, mtime) — see
    * [[chunkStore]]. */
  private val chunkCache = new IndexCache

  /** Drop the persisted perceptual-index + chunk-store relations. */
  def invalidateIndexes(): Unit = {
    nearDupCache.invalidate()
    chunkCache.invalidate()
    chunkMergedCache.invalidate()
    storeRewriteCache.invalidate()
  }

  /** Per-payload ordered CDC chunk-digest array — one narrow
    * codegen'd pass (boundaries + slices + md5), shared by the
    * perceptual index and its verification scan. */
  private def chunkMd5s(docs: DataFrame): DataFrame =
    withPayload(docs)
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .filter(col("byte_len") > 0)
      .withColumn("bs", org.apache.spark.sql.GraftColumn(
        graft.functions.CdcBoundaries(
          org.apache.spark.sql.GraftColumn.expr(col("payload")))))
      .withColumn("starts", concat(array(lit(0L)), col("bs")))
      .withColumn("ends", concat(col("bs"), array(col("byte_len"))))
      .select(col("doc_id"),
        expr("transform(arrays_zip(starts, ends), se -> " +
          "md5(substring(payload, CAST(se.starts + 1 AS INT), " +
          "CAST(se.ends - se.starts AS INT))))").as("chunk_md5s"))

  /** Stateless (doc_id, chunk_md5) projection, distinct per doc —
    * pure expressions only (CDC boundaries + slice + md5 + per-row
    * array_distinct), so it is STREAMING-SAFE: the ingest-path
    * counterpart of [[chunkStore]], used by [[StreamOps]]'s
    * `stream_cdc_candidates`. */
  private[graft] def chunkDigestRows(df: DataFrame): DataFrame =
    chunkMd5s(df)
      .select(col("doc_id"),
        explode(array_distinct(col("chunk_md5s"))).as("chunk_md5"))

  /** The persisted CHUNK STORE (doc_id, chunk_md5, chunk_len): every
    * CDC chunk occurrence, digested — THE artifact a sub-file dedup
    * system keeps (backup-dedup model: storage ∝ distinct chunks).
    * Built in ONE narrow codegen'd pass (boundaries + slice + md5;
    * payload bytes never leave the scan) and shared by
    * [[mmCdcDedup]], [[mmNearDup]]'s verification stage, and
    * [[DedupOps]]'s `text_cdc_dedup` — round 6 initially recomputed
    * the corpus-wide CDC+md5 scan inside each consumer.
    *
    * `localCheckpoint` (eager), not `persist`: the lineage is CUT, so
    * every consumer — including `newSession()` replay clones and
    * late-running queries after storage pressure — reads the SAME
    * immutable materialized blocks; there is no silent-recompute path
    * at all, and a lost block fails loud instead of quietly re-scanning
    * (CdcDeterminismSpec runs the whole consumer family against this).
    * One checkpoint per context: the cache is context-keyed, so replay
    * clones can never materialize a private twin. */
  private[graft] def chunkStore(s: SparkSession, d: String): DataFrame =
    chunkCache.getOrBuild(s, d,
      graft.sources.Tables.mtime(d, "documents")) {
      chunkStoreRows(graft.sources.Tables.documents(s, d))
        .transform(graft.Checkpointing.cut) // eager: materialize once, cut the lineage
    }

  /** The store-shaped (doc_id, chunk_md5, chunk_len) projection over
    * an arbitrary (doc_id, text, …) relation — [[chunkStore]]'s build
    * body, also run over the delta batch by [[mergedChunkStore]]. */
  private def chunkStoreRows(docs: DataFrame): DataFrame =
    withPayload(docs)
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .filter(col("byte_len") > 0)
      .withColumn("bs", org.apache.spark.sql.GraftColumn(
        graft.functions.CdcBoundaries(
          org.apache.spark.sql.GraftColumn.expr(col("payload")))))
      .withColumn("starts", concat(array(lit(0L)), col("bs")))
      .withColumn("ends", concat(col("bs"), array(col("byte_len"))))
      .select(col("doc_id"), col("payload"),
        posexplode(arrays_zip(col("starts"), col("ends")))
          .as(Seq("chunk_idx", "se")))
      .select(col("doc_id"),
        md5(expr("substring(payload, CAST(se.starts + 1 AS INT), " +
          "CAST(se.ends - se.starts AS INT))")).as("chunk_md5"),
        (col("se.ends") - col("se.starts")).as("chunk_len"))

  /** The merged-chunk-store cache ([[mmCdcStoreMerge]]) — the
    * substring-tier sibling of the two bucket-index merge caches. */
  private val chunkMergedCache = new IndexCache

  /** CHUNK-STORE MERGE (`mm_cdc_store_merge`) — the substring tier's
    * delta completion, closing the triple: every persisted index
    * family (lexical LSH buckets → `dedup_index_merge`, ANN buckets →
    * `ann_index_merge`, CDC chunk store → this) now supports
    * append-only daily maintenance instead of the all-or-nothing
    * mtime rebuild. The delta batch ([[DedupOps.deltaBatch]]'s
    * prefix-edited re-crawl derivation) is chunked+digested by the
    * same one-pass engine and APPENDED: only O(delta) rows computed
    * (eager `localCheckpoint`), the corpus side scans the existing
    * checkpointed store (ChunkStoreMergeSpec pins both). The output
    * is the per-(doc, digest) occurrence rollup — the dedup-store
    * bookkeeping view (storage ∝ distinct chunks) — and the oracle
    * recomputes it from scratch over corpus ∪ delta, so bit-equality
    * IS the merge ≡ rebuild proof. A "UPDATE: "-prefixed re-crawl
    * also demonstrates WHY the store merges cheaply: CDC boundaries
    * re-synchronize 8 bytes past the edit, so a delta doc's digests
    * overwhelmingly already exist in the store. */
  val mmCdcStoreMerge: Q = (s, d) =>
    mergedChunkStore(s, d)
      .groupBy(col("doc_id"), col("chunk_md5"))
      .agg(count(lit(1)).as("n_occ"), sum(col("chunk_len")).as("sum_len"))
      .orderBy("doc_id", "chunk_md5")

  private[graft] def mergedChunkStore(s: SparkSession, d: String): DataFrame =
    chunkMergedCache.getOrBuild(s, d,
      graft.sources.Tables.mtime(d, "documents")) {
      val deltaRows = chunkStoreRows(
        DedupOps.deltaBatch(s, d).select(col("doc_id"), col("text")))
        .transform(graft.Checkpointing.cut) // eager: materialize ONLY the appended rows
      chunkStore(s, d).unionByName(deltaRows)
    }

  /** CONTENT-ADDRESSED STORE GC (`mm_store_gc`) — the substring
    * tier's deletion-side maintenance, and the reason chunk-store
    * deletion is NOT just a row filter: the store is content-
    * addressed (one physical copy per distinct digest, shared by
    * every owner), so a takedown batch ([[DedupOps.TombTag]], the
    * derivation shared with `dedup_index_compact` /
    * `ann_index_compact`) only frees the bytes of digests whose LAST
    * surviving owner was tombstoned. This query emits exactly that
    * physical reclaim list: per digest, the owner count before the
    * takedown, and the stored byte size being freed.
    *
    * Shape at 100 TB: two STACKED map-side-combinable groupBys on
    * the digest over the persisted store — (digest, owner) occurrence
    * rows collapse to distinct ownerships first, then plain counts
    * roll those up (round 16; the previous single groupBy used two
    * `countDistinct`s, which Spark plans as an Expand that doubles
    * every store row into the exchange — the A/B and plan diff are in
    * OPTIMIZATION_r16.md). Exact by construction: COUNT(DISTINCT
    * doc_id) ≡ COUNT(*) over the distinct-pair rollup, the
    * tombstone predicate is a function of doc_id alone, and owner ids
    * are never null in a content-addressed store (each row IS an
    * ownership). Document bytes are never touched (the store carries
    * digests + lengths only), and the emitted reclaim list is the
    * small tail of digests with zero survivors. The oracle recomputes
    * the rollup from scratch over the raw corpus with the same CDC
    * machinery — bit-equality proves both the chunking reuse and the
    * survivor accounting. */
  val mmStoreGc: Q = (s, d) =>
    chunkStore(s, d)
      .groupBy(col("chunk_md5"), col("doc_id"))
      .agg(max(col("chunk_len")).as("len"))
      .groupBy(col("chunk_md5"))
      .agg(
        count(lit(1)).as("n_owners_before"),
        sum(when(!DedupOps.tombstoned(col("doc_id")), 1L).otherwise(0L))
          .as("n_owners_after"),
        max(col("len")).as("stored_len"))
      .filter(col("n_owners_after") === 0L)
      .select(col("chunk_md5"), col("n_owners_before"), col("stored_len"))
      .orderBy("chunk_md5")

  /** The physically-rewritten chunk store — substring-tier mirror of
    * `dedup_index_rewrite`, same atomic-supersede publication. */
  private val storeRewriteCache = new IndexCache

  private[graft] def storeRewriteCacheKeys = storeRewriteCache.keys

  /** CHUNK-STORE REWRITE — the physical pass that applies
    * [[mmStoreGc]]'s verdicts: the GC emits the reclaim LIST (digests
    * whose last owner was tombstoned); this operator materializes the
    * store that remains — every (doc, digest) ownership row of a
    * surviving owner, rolled up with its reference count — from the
    * store's own cached blocks (one eager `localCheckpoint`, lineage
    * cut), published through [[IndexCache]]'s atomic putIfAbsent. The
    * documents parquet is never re-read and no payload byte moves:
    * reclaim ∝ |store rows| (16-byte digests + ints), never |corpus|.
    * Every GC'd digest is absent by construction (its owners were all
    * tombstoned), so the oracle — the from-scratch per-(doc, digest)
    * rollup over corpus ∖ tombstones — proves rewrite ≡ GC ∘ rebuild
    * in one equality. */
  val mmStoreRewrite: Q = (s, d) =>
    rewrittenChunkStore(s, d)
      .orderBy("doc_id", "chunk_md5")

  private[graft] def rewrittenChunkStore(s: SparkSession, d: String)
      : DataFrame =
    storeRewriteCache.getOrBuild(s, d,
      graft.sources.Tables.mtime(d, "documents")) {
      chunkStore(s, d)
        .filter(!DedupOps.tombstoned(col("doc_id")))
        .groupBy(col("doc_id"), col("chunk_md5"))
        .agg(count(lit(1)).as("n_refs"), min(col("chunk_len")).as("chunk_len"))
        .transform(graft.Checkpointing.cut) // eager: survivors materialized, lineage cut
    }

  /** The perceptual index relation (doc_id, phash, band, bucket):
    * MinHash band buckets over the payload's CDC chunk-digest set
    * (the exact [[DedupOps]] LSH layout — K lanes, Bands×RowsPerBand
    * banding — applied to chunk digests instead of word shingles)
    * plus a 32-bit SimHash of the same digest multiset as the
    * perceptual fingerprint. Persisted and mtime-keyed so the pair
    * self-join scans the cache on both sides. */
  private def chunkIndex(s: SparkSession, d: String): DataFrame =
    nearDupCache.getOrBuild(s, d,
      graft.sources.Tables.mtime(d, "documents")) {
      import graft.functions.Hashing
      val hashed = chunkMd5s(graft.sources.Tables.documents(s, d))
        .select(col("doc_id"),
          Hashing.hashAll(col("chunk_md5s")).as("chunk_hashes"))
      val sig = hashed
        .select(col("doc_id"),
          Hashing.simhash32(col("chunk_hashes")).as("phash"),
          Hashing.minhashSig(col("chunk_hashes")).as("sig"))
        .select(col("doc_id") +: col("phash") +:
          (0 until Hashing.K).map(i =>
            col("sig").getItem(i).as(s"mh$i")): _*)
      val idx = sig
        .select(col("doc_id"), col("phash"),
          posexplode(array((0 until Hashing.Bands).map(Hashing.bandBucket): _*))
            .as(Seq("band", "bucket")))
        .select(col("doc_id"), col("phash"),
          col("band").cast("long").as("band"), col("bucket"))
        .persist()
      idx.count() // materialize once, before any self-join runs
      idx
    }

  /** PERCEPTUAL media near-dup (`mm_near_dup`): payloads sharing most
    * of their content surface even when the exact digest differs —
    * the re-encoded/edited-payload case [[mmPayloadDedup]] (whole-file
    * digest) and [[mmCdcDedup]] (per-chunk store) don't answer
    * directly. Candidates come from MinHash-LSH band buckets over the
    * CDC chunk-digest set (shift-robust: an edit re-synchronizes
    * within one CDC window, so unchanged content contributes the SAME
    * digests); each candidate pair is then verified with the exact
    * chunk-set Jaccard and scored with the SimHash hamming distance.
    *
    * Scale shape: identical to the proven text LSH tier — the index
    * is a persisted (band, bucket) relation, candidates ∝ Σ bucket²
    * (never all-pairs), and the verification chunk sets are computed
    * ONLY for candidate members (broadcast semi-join, cost ∝
    * candidates, not corpus). Payload bytes never reach an exchange:
    * digests, signatures, and buckets are all narrow projections. */
  val mmNearDup: Q = (s, d) => {
    val idx = chunkIndex(s, d)
    // three consumers (members, intersection, final join) — without
    // the checkpoint the bucket self-join + distinct replays per use;
    // the relation is candidate-sized (tiny), so materializing it is
    // the cheap side of the trade at any scale
    val pairs = idx.as("x").join(idx.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      .distinct()
      .transform(graft.Checkpointing.cut)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // verification sets come from the persisted chunk store, pruned
    // to candidate members BEFORE the distinct — the shuffles carry
    // only (member doc_id, digest) rows, cost ∝ candidates
    val pd = chunkStore(s, d)
      .join(broadcast(members), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("chunk_md5").as("ch"))
      .distinct()
    val sizes = pd.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(pd.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(pd.as("cb"),
        col("doc_b") === col("cb.doc_id") && col("ca.ch") === col("cb.ch"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("za.n") + col("zb.n") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double") /
          (col("za.n") + col("zb.n") - col("n_inter")).cast("double"))
          .as("chunk_jaccard"),
        expr("bit_count(pa ^ pb)").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact media dedup by CONTENT DIGEST — the only dedup that works
    * on opaque payloads (no tokens to shingle): group on the 128-bit
    * md5 of the bytes, keep the lowest doc as canonical. At 100 TB
    * this is why the digest exists: the shuffle carries 16 bytes per
    * row instead of the payload (a groupBy on the payload column
    * itself would move the whole corpus through the exchange — the
    * text-side `dedup_exact` documents the same fingerprint move).
    * Map-side combinable; payload bytes never leave the scan stage. */
  val mmPayloadDedup: Q = (s, d) =>
    withPayload(graft.sources.Tables.documents(s, d))
      .select(col("doc_id"), md5(col("payload")).as("payload_md5"),
        length(col("payload")).cast("long").as("byte_len"))
      .groupBy("payload_md5")
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"),
        min(col("byte_len")).as("byte_len"))
      .orderBy("payload_md5")

  val defs: Map[String, Q] = Map(
    "mm_meta" -> mmMeta,
    "mm_resize" -> mmResize,
    "mm_frame_sample" -> mmFrameSample,
    "mm_chunk" -> mmChunk,
    "mm_payload_dedup" -> mmPayloadDedup,
    "mm_cdc_chunk" -> mmCdcChunk,
    "mm_cdc_dedup" -> mmCdcDedup,
    "mm_dedup_savings" -> mmDedupSavings,
    "mm_cdc_store_merge" -> mmCdcStoreMerge,
    "mm_store_gc" -> mmStoreGc,
    "mm_store_rewrite" -> mmStoreRewrite,
    "mm_near_dup" -> mmNearDup)

  // the fake-codec geometry exists ONCE as SQL fragments — mm_meta and
  // mm_resize both compose these, so a codec change can't silently
  // diverge the two oracles
  private val sqlByteLen = "CAST(octet_length(encode(text)) AS BIGINT)"
  private val sqlWidth = s"16 + $sqlByteLen % 64"
  private val sqlHeight = s"16 + ($sqlByteLen * 31) % 64"

  /** Batch oracle for [[StreamOps]]'s `stream_cdc_candidates`:
    * incoming (is_new) docs' distinct chunk digests joined against
    * the corpus side's rare (df ≤ MaxChunkDf) digests — the
    * substring-tier ingest gate, aggregation-free by design. */
  private[graft] def sqlCdcCandidates: String = {
    val W = graft.functions.CdcBoundaries.Window
    val D = graft.functions.CdcBoundaries.Divisor
    s"""WITH b AS (
          SELECT doc_id, text, $sqlByteLen AS n,
            list_filter(range($W, $sqlByteLen),
              o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(o - $W + 1, o + 1),
                       j -> CAST(ascii(text[j]) AS BIGINT))),
                     (h, c) -> (h * 31 + c) % ${graft.functions.Hashing.P})
                   % $D = 0) AS bs
          FROM documents WHERE $sqlByteLen > 0),
        se AS (
          SELECT doc_id, text,
            list_prepend(CAST(0 AS BIGINT), bs) AS starts,
            list_append(bs, n) AS ends
          FROM b),
        ch AS (
          SELECT DISTINCT doc_id,
            md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
              CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5
          FROM (SELECT doc_id, text, starts, ends,
                  unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                    AS i
                FROM se) z),
        tagged AS (
          SELECT doc_id,
            ${graft.functions.Hashing
              .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10 = 7 AS is_new
          FROM documents),
        corpus AS (
          SELECT ch.doc_id AS cand_id, ch.chunk_md5
          FROM ch JOIN tagged t ON ch.doc_id = t.doc_id AND NOT t.is_new),
        rare AS (
          SELECT chunk_md5 FROM corpus GROUP BY chunk_md5
          HAVING COUNT(*) <= ${DedupOps.MaxChunkDf})
        SELECT x.doc_id, x.chunk_md5, c.cand_id
        FROM ch x
        JOIN tagged tx ON x.doc_id = tx.doc_id AND tx.is_new
        JOIN rare r ON r.chunk_md5 = x.chunk_md5
        JOIN corpus c ON c.chunk_md5 = x.chunk_md5
        ORDER BY x.doc_id, x.chunk_md5, c.cand_id"""
  }

  // lazy: oracle strings interpolate constants from SIBLING operator
  // objects (TextOps -> SimilarityOps.Dims, SimilarityOps -> DedupOps
  // delta constants, DedupOps -> TextOps.oracle), so eager init here
  // would make the map's value depend on which object the JVM
  // happened to initialize first (a mid-cycle read sees null). Lazy
  // defers interpolation past every clinit.
  lazy val oracle: Map[String, String] = Map(
    "mm_resize" ->
      s"""SELECT doc_id,
           $sqlWidth AS width,
           $sqlHeight AS height,
           CAST(224 AS BIGINT) AS out_w,
           (($sqlHeight) * 224) // ($sqlWidth) AS out_h
         FROM documents ORDER BY doc_id""",
    "mm_frame_sample" ->
      """SELECT doc_id, unnest(range(0, 1 + doc_id % 8, 2)) AS frame_idx
         FROM documents ORDER BY doc_id, frame_idx""",
    "mm_chunk" ->
      s"""SELECT doc_id, chunk_idx,
           chunk_idx * $ChunkBytes AS offset,
           CAST(octet_length(encode(substring(text,
             CAST(chunk_idx * $ChunkBytes + 1 AS BIGINT), $ChunkBytes)))
             AS BIGINT) AS chunk_len
         FROM (
           SELECT doc_id, text,
             unnest(range(0,
               ($sqlByteLen + ${ChunkBytes - 1}) // $ChunkBytes)) AS chunk_idx
           FROM documents WHERE $sqlByteLen > 0) t
         ORDER BY doc_id, chunk_idx""",
    "mm_cdc_chunk" -> {
      val W = graft.functions.CdcBoundaries.Window
      val D = graft.functions.CdcBoundaries.Divisor
      val P = graft.functions.Hashing.P
      // O(n·W) window fold per position — the oracle-scale mirror of
      // the codegen'd O(n) pop-push loop; ASCII corpus => byte ==
      // ascii(char) (asserted in MultimodalSpec)
      s"""WITH b AS (
            SELECT doc_id, CAST($sqlByteLen AS BIGINT) AS n,
              list_filter(range($W, CAST($sqlByteLen AS BIGINT)),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % $P) % $D = 0) AS bs
            FROM documents WHERE $sqlByteLen > 0),
          se AS (
            SELECT doc_id, n,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ex AS (
            SELECT doc_id, starts, ends,
              unnest(range(1, CAST(length(starts) + 1 AS BIGINT))) AS i
            FROM se)
          SELECT doc_id, i - 1 AS chunk_idx, starts[i] AS offset,
            ends[i] - starts[i] AS chunk_len
          FROM ex ORDER BY doc_id, chunk_idx"""
    },
    "mm_cdc_dedup" -> {
      val W = graft.functions.CdcBoundaries.Window
      val D = graft.functions.CdcBoundaries.Divisor
      val P = graft.functions.Hashing.P
      s"""WITH b AS (
            SELECT doc_id, text, CAST($sqlByteLen AS BIGINT) AS n,
              list_filter(range($W, CAST($sqlByteLen AS BIGINT)),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % $P) % $D = 0) AS bs
            FROM documents WHERE $sqlByteLen > 0),
          se AS (
            SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ch AS (
            SELECT doc_id,
              md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5,
              ends[i] - starts[i] AS chunk_len
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                      AS i
                  FROM se) z)
          SELECT chunk_md5, COUNT(*) AS n_refs,
            COUNT(DISTINCT doc_id) AS n_docs,
            MIN(chunk_len) AS chunk_len
          FROM ch GROUP BY chunk_md5 ORDER BY chunk_md5"""
    },
    // Savings: the same chunk CTE, ingested vs owner-attributed
    // stored bytes per format; LEFT join mirrors the Spark side's
    // keep-zero-stored-formats rule.
    "mm_dedup_savings" -> {
      val W = graft.functions.CdcBoundaries.Window
      val D = graft.functions.CdcBoundaries.Divisor
      val P = graft.functions.Hashing.P
      s"""WITH b AS (
            SELECT doc_id, text, CAST($sqlByteLen AS BIGINT) AS n,
              list_filter(range($W, CAST($sqlByteLen AS BIGINT)),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % $P) % $D = 0) AS bs
            FROM documents WHERE $sqlByteLen > 0),
          se AS (
            SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ch AS MATERIALIZED (
            SELECT doc_id,
              md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5,
              ends[i] - starts[i] AS chunk_len
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                      AS i
                  FROM se) z),
          fmt AS (
            SELECT doc_id,
              CASE CAST($sqlByteLen AS BIGINT) % 3
                WHEN 0 THEN 'rgb' WHEN 1 THEN 'yuv' ELSE 'gray' END
                AS format
            FROM documents),
          ingested AS (
            SELECT f.format,
              CAST(COUNT(DISTINCT ch.doc_id) AS BIGINT) AS n_docs,
              CAST(COUNT(*) AS BIGINT) AS n_refs,
              CAST(SUM(ch.chunk_len) AS BIGINT) AS total_bytes
            FROM ch JOIN fmt f ON f.doc_id = ch.doc_id
            GROUP BY 1),
          stored AS (
            SELECT f.format,
              CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
              CAST(SUM(o.chunk_len) AS BIGINT) AS stored_bytes
            FROM (
              SELECT chunk_md5, MIN(doc_id) AS doc_id,
                MIN(chunk_len) AS chunk_len
              FROM ch GROUP BY chunk_md5) o
            JOIN fmt f ON f.doc_id = o.doc_id
            GROUP BY 1)
          SELECT i.format, i.n_docs, i.n_refs, i.total_bytes,
            COALESCE(s.n_unique_chunks, CAST(0 AS BIGINT))
              AS n_unique_chunks,
            COALESCE(s.stored_bytes, CAST(0 AS BIGINT)) AS stored_bytes,
            CAST(i.total_bytes - COALESCE(s.stored_bytes, 0) AS DOUBLE)
              / CAST(i.total_bytes AS DOUBLE) AS savings
          FROM ingested i LEFT JOIN stored s ON s.format = i.format
          ORDER BY i.format"""
    },
    // from-scratch recompute of the per-digest owner rollup over the
    // raw corpus + the tombstone filter: bit-equality against Spark's
    // store-side GC proves both the chunking reuse and the survivor
    // accounting
    "mm_store_gc" -> {
      val W = graft.functions.CdcBoundaries.Window
      val D = graft.functions.CdcBoundaries.Divisor
      val P = graft.functions.Hashing.P
      val tomb = s"""${graft.functions.Hashing
        .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
        = ${DedupOps.TombTag}"""
      s"""WITH b AS (
            SELECT doc_id, text, CAST($sqlByteLen AS BIGINT) AS n,
              list_filter(range($W, CAST($sqlByteLen AS BIGINT)),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % $P) % $D = 0) AS bs
            FROM documents WHERE $sqlByteLen > 0),
          se AS (
            SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ch AS (
            SELECT doc_id,
              md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5,
              ends[i] - starts[i] AS chunk_len
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                      AS i
                  FROM se) z),
          roll AS (
            SELECT chunk_md5,
              COUNT(DISTINCT doc_id) AS n_owners_before,
              COUNT(DISTINCT doc_id) FILTER (WHERE NOT ($tomb))
                AS n_owners_after,
              MAX(chunk_len) AS stored_len
            FROM ch GROUP BY chunk_md5)
          SELECT chunk_md5, n_owners_before, stored_len
          FROM roll WHERE n_owners_after = 0
          ORDER BY chunk_md5"""
    },
    // the physical rewrite must equal the from-scratch per-(doc,
    // digest) rollup over corpus ∖ tombstones — every GC'd digest is
    // absent by construction, so this one equality proves
    // rewrite ≡ GC ∘ rebuild
    "mm_store_rewrite" -> {
      val W = graft.functions.CdcBoundaries.Window
      val D = graft.functions.CdcBoundaries.Divisor
      val P = graft.functions.Hashing.P
      s"""WITH b AS (
            SELECT doc_id, text, CAST($sqlByteLen AS BIGINT) AS n,
              list_filter(range($W, CAST($sqlByteLen AS BIGINT)),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % $P) % $D = 0) AS bs
            FROM documents
            WHERE $sqlByteLen > 0
              AND ${graft.functions.Hashing
                .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
                != ${DedupOps.TombTag}),
          se AS (
            SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ch AS (
            SELECT doc_id,
              md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5,
              ends[i] - starts[i] AS chunk_len
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                      AS i
                  FROM se) z)
          SELECT doc_id, chunk_md5,
            CAST(COUNT(*) AS BIGINT) AS n_refs,
            MIN(chunk_len) AS chunk_len
          FROM ch GROUP BY doc_id, chunk_md5
          ORDER BY doc_id, chunk_md5"""
    },
    // full REBUILD of the chunk store over corpus ∪ delta, rolled up
    // per (doc, digest): bit-equality against Spark's append-only
    // merge IS the merge ≡ rebuild proof
    "mm_cdc_store_merge" -> {
      val W = graft.functions.CdcBoundaries.Window
      val D = graft.functions.CdcBoundaries.Divisor
      val P = graft.functions.Hashing.P
      s"""WITH docs_all AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + ${DedupOps.DeltaIdOffset} AS doc_id,
              'UPDATE: ' || text AS text
            FROM documents
            WHERE ${graft.functions.Hashing
              .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
              = ${DedupOps.DeltaTag}),
          b AS (
            SELECT doc_id, text, CAST($sqlByteLen AS BIGINT) AS n,
              list_filter(range($W, CAST($sqlByteLen AS BIGINT)),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % $P) % $D = 0) AS bs
            FROM docs_all WHERE $sqlByteLen > 0),
          se AS (
            SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ch AS (
            SELECT doc_id,
              md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5,
              ends[i] - starts[i] AS chunk_len
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                      AS i
                  FROM se) z)
          SELECT doc_id, chunk_md5, COUNT(*) AS n_occ,
            CAST(SUM(chunk_len) AS BIGINT) AS sum_len
          FROM ch GROUP BY doc_id, chunk_md5
          ORDER BY doc_id, chunk_md5"""
    },
    "mm_near_dup" -> {
      import graft.functions.Hashing
      val W = graft.functions.CdcBoundaries.Window
      val D = graft.functions.CdcBoundaries.Divisor
      val sigs = (0 until Hashing.K)
        .map(i => s"${Hashing.sqlMinhash("chunk_hashes", i)} AS mh$i")
        .mkString(", ")
      val bucketsSql = (0 until Hashing.Bands).map(b =>
        s"""SELECT doc_id, phash, CAST($b AS BIGINT) AS band,
            ${Hashing.sqlBandBucket(b)} AS bucket FROM sig""")
        .mkString(" UNION ALL ")
      s"""WITH b AS (
            SELECT doc_id, text, $sqlByteLen AS n,
              list_filter(range($W, $sqlByteLen),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % ${Hashing.P}) % $D = 0)
                AS bs
            FROM documents WHERE $sqlByteLen > 0),
          se AS (
            SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ch AS (
            SELECT doc_id, i,
              md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                      AS i
                  FROM se) z),
          cl AS (
            SELECT doc_id,
              ${Hashing.sqlHashAll("list(chunk_md5 ORDER BY i)")}
                AS chunk_hashes
            FROM ch GROUP BY doc_id),
          sig AS (
            SELECT doc_id,
              ${Hashing.sqlSimhash32("chunk_hashes")} AS phash, $sigs
            FROM cl),
          buckets AS ($bucketsSql),
          pairs AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM buckets x JOIN buckets y
              ON x.band = y.band AND x.bucket = y.bucket
                 AND x.doc_id < y.doc_id),
          pd AS (
            SELECT DISTINCT doc_id, chunk_md5 FROM ch),
          szs AS (
            SELECT doc_id, COUNT(*) AS n FROM pd GROUP BY doc_id),
          inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
            FROM pairs p
            JOIN pd ca ON ca.doc_id = p.doc_a
            JOIN pd cb ON cb.doc_id = p.doc_b
                       AND ca.chunk_md5 = cb.chunk_md5
            GROUP BY p.doc_a, p.doc_b)
          SELECT p.doc_a, p.doc_b,
            COALESCE(i.n_inter, 0) AS n_inter,
            za.n + zb.n - COALESCE(i.n_inter, 0) AS n_union,
            CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
              / CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE)
              AS chunk_jaccard,
            CAST(bit_count(xor(ga.phash, gb.phash)) AS BIGINT) AS hamming
          FROM pairs p
          LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
          JOIN szs za ON za.doc_id = p.doc_a
          JOIN szs zb ON zb.doc_id = p.doc_b
          JOIN sig ga ON ga.doc_id = p.doc_a
          JOIN sig gb ON gb.doc_id = p.doc_b
          ORDER BY p.doc_a, p.doc_b"""
    },
    "mm_payload_dedup" ->
      s"""SELECT md5(text) AS payload_md5,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies,
           MIN($sqlByteLen) AS byte_len
         FROM documents GROUP BY md5(text) ORDER BY payload_md5""",
    "mm_meta" ->
      s"""SELECT doc_id,
           $sqlByteLen AS byte_len,
           $sqlWidth AS width,
           $sqlHeight AS height,
           1 + doc_id % 8 AS n_frames,
           CASE $sqlByteLen % 3
             WHEN 0 THEN 'rgb' WHEN 1 THEN 'yuv' ELSE 'gray' END AS format
         FROM documents ORDER BY doc_id""")
}
