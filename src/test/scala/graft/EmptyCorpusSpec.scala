package graft

import org.apache.spark.sql.functions._

/** Degenerate-corpus robustness (round 15): EVERY registered query
  * must run on an empty-but-schema'd corpus — the input shape a
  * 100 TB deployment produces routinely (a date partition pruned to
  * nothing, a brand-new tenant, an upstream filter that matched zero
  * rows). The round-15 sweep of all 335 queries against exactly this
  * corpus found three classes of defect, each fixed and pinned here:
  *
  *  - the streaming replay guard (StreamOps.awaitDrained) treated
  *    "zero drained rows" as unconditionally fatal — right for the
  *    round-11 listed-nothing harness bug it exists to catch, wrong
  *    for a legitimately empty source (33 queries rejected a valid
  *    corpus); it now batch-verifies source emptiness on the
  *    rows==0 path only,
  *  - three unguarded double divisions (dedup_kmv_overlap,
  *    doc_filter_funnel, emb_prefix_recall) threw DIVIDE_BY_ZERO
  *    under ANSI mode on the degenerate denominators (0/0 Jaccard of
  *    two empty sets, survival of an empty funnel, recall against an
  *    empty truth set) — now NULL with the CASE mirrored verbatim in
  *    each oracle,
  *  - the grouping family (q9_rollup / q24_cube / q26_grouping_sets)
  *    diverged from the DuckDB oracle's ANSI grand-total row: Spark
  *    plans grouping constructs as ONE Expand pass, so an empty fact
  *    yields zero groups — pinned as the engine contract (oracles
  *    carry `HAVING COUNT(*) > 0`, a no-op on non-empty input), and
  *    dedup_kmv_merge's rank-diff SUM over the empty full-outer is
  *    NULL on both engines (two empty samples are vacuously
  *    identical; oracle mirrors with COALESCE).
  *
  * The full-surface no-throw sweep is the regression net; the
  * targeted tests pin each fixed class's exact empty-input shape.
  * Oracle parity on this corpus is certified end-to-end by the gate
  * (scripts/make_empty.py + Verify + check.py — scripts/gate.sh).
  */
class EmptyCorpusSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dst = tmpDir("graft-empty-corpus")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$Sf/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    dst
  }

  test("every registered query runs on an empty-but-schema'd corpus " +
      "(the pruned-partition / new-tenant input shape)") {
    operators.DedupOps.invalidateIndexes()
    operators.SimilarityOps.invalidateIndexes()
    operators.TextOps.invalidateIndexes()
    operators.MultimodalOps.invalidateIndexes()
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).collect(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${
            Option(e.getMessage).getOrElse("").linesIterator
              .take(1).mkString}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on the empty corpus:\n  " +
        failures.mkString("\n  "))
    // fresh caches for whatever suite runs next in this JVM
    operators.DedupOps.invalidateIndexes()
    operators.SimilarityOps.invalidateIndexes()
    operators.TextOps.invalidateIndexes()
    operators.MultimodalOps.invalidateIndexes()
  }

  test("grouping family on empty input: zero groups, no ANSI " +
      "grand-total row — the one-Expand-pass contract") {
    for (q <- Seq("q9_rollup", "q24_cube", "q26_grouping_sets"))
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 0L,
        s"$q must emit zero groups on an empty fact")
  }

  test("NULL-guarded divisions: undefined ratios are NULL, never " +
      "DIVIDE_BY_ZERO") {
    val funnel = SparkEntry.queries("doc_filter_funnel")(spark, emptyDir)
      .collect()
    assert(funnel.length == 4, "funnel keeps its 4-stage grid on empty")
    assert(funnel.forall(_.isNullAt(funnel.head.fieldIndex("survival"))),
      "survival of an empty funnel is NULL at every stage")
    val recall = SparkEntry.queries("emb_prefix_recall")(spark, emptyDir)
      .collect()
    assert(recall.length == operators.SimilarityOps.PrefixDims.length,
      "prefix-recall keeps its m grid on empty")
    assert(recall.forall(_.isNullAt(recall.head.fieldIndex("recall"))),
      "recall against an empty truth set is NULL")
    val ov = SparkEntry.queries("dedup_kmv_overlap")(spark, emptyDir)
      .collect().head
    assert(ov.isNullAt(ov.fieldIndex("est_jaccard")) &&
      ov.isNullAt(ov.fieldIndex("exact_jaccard")),
      "Jaccard of two empty corpora is NULL on both tiers")
  }

  test("two empty KMV samples are vacuously identical") {
    val r = SparkEntry.queries("dedup_kmv_merge")(spark, emptyDir)
      .collect().head
    assert(r.getLong(r.fieldIndex("sample_identical")) == 1L)
  }

  test("streaming replay accepts a legitimately empty source and " +
      "returns the empty typed result (the guard still rejects " +
      "non-empty silence)") {
    for (q <- Seq("stream_hourly", "stream_dedup_keys", "stream_asof"))
      assert(SparkEntry.queries(q)(spark, emptyDir).count() == 0L,
        s"$q must drain an empty source to an empty result")
  }

  test("the drain guard stays LOUD on listed-nothing silence from a " +
      "non-empty source (the round-11 failure shape)") {
    // a documents table whose part files lack the .parquet extension:
    // the batch reader accepts them (schema load, the guard's own
    // emptiness probe), but the stream source's `*.parquet` glob
    // lists NOTHING — exactly the silent-measurement shape the guard
    // exists to reject, now distinguishable from a legitimately
    // empty corpus
    val dir = tmpDir("graft-silent-corpus")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      spark.read.parquet(s"$Sf/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val docsDir = new java.io.File(s"$dir/documents.parquet")
    spark.read.parquet(s"$Sf/documents.parquet").coalesce(1)
      .write.mode("overwrite").parquet(docsDir.toString)
    docsDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.renameTo(
        new java.io.File(f.getParent, f.getName.stripSuffix(".parquet")))))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("stream_curation_route")(spark, dir).collect()
    }
    assert(e.getMessage.contains("drained ZERO source rows"),
      s"expected the loud drain-guard failure, got: ${e.getMessage}")
  }

  test("per-batch ingest gates return their typed empty result on the " +
      "empty corpus (schemas read off the per-batch plan)") {
    val expected = Map(
      "stream_asof" -> ("event_id BIGINT, user_id BIGINT, " +
        "click_ts_sec BIGINT, view_ts_sec BIGINT, gap_sec BIGINT"),
      "stream_cdc_strip" -> ("doc_id BIGINT, n_chunks BIGINT, " +
        "n_kept BIGINT, clean_text STRING, clean_len BIGINT"),
      "stream_template_gate" ->
        "doc_id BIGINT, n_grams BIGINT, n_heavy BIGINT, decision STRING",
      "stream_unigram_gate" -> ("doc_id BIGINT, n_tokens BIGINT, " +
        "n_oov BIGINT, min_known_tf BIGINT, decision STRING"),
      "stream_affinity_gate" -> ("doc_id BIGINT, n_feat BIGINT, " +
        "n_pos BIGINT, n_neg BIGINT, decision STRING"),
      "stream_bloom_gate" ->
        "doc_id BIGINT, n_pos_hit BIGINT, decision STRING")
    def fields(t: org.apache.spark.sql.types.StructType) =
      t.fields.toSeq.map(f => f.name -> f.dataType)
    for ((q, ddl) <- expected) {
      val out = SparkEntry.queries(q)(spark, emptyDir)
      assert(fields(out.schema) ==
        fields(org.apache.spark.sql.types.StructType.fromDDL(ddl)), q)
      assert(out.count() == 0L, s"$q must be empty on the empty corpus")
    }
  }
}
