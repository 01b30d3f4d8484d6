package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit, least, sum}

import graft.operators.{DedupOps, IndexCache, SimilarityOps}

/** Round-11 durable-checkpoint seam ([[Checkpointing]]).
  *
  * Every iterative lineage cut in the engine routes through
  * `Checkpointing.cut`: executor-local (`localCheckpoint`) by default,
  * RELIABLE (`Dataset.checkpoint` against `spark.graft.checkpointDir`)
  * when the cluster operator sets the conf — the posture a
  * 1000-executor spot-instance deployment needs, where an executor
  * loss mid-PageRank must be recoverable by re-reading checkpoint
  * files rather than killing the job. Both modes materialize eagerly
  * and truncate lineage identically, so results are bit-identical by
  * construction; this spec pins that on the iterative gate queries,
  * pins the file-layout contract (exactly one checkpoint RDD directory
  * per cut, and each gate query's count of them) that makes reliable
  * mode auditable, and pins the contract of [[Checkpointing.iterate]],
  * the loop every single-state iterative operator runs on. */
class CheckpointingSpec extends SparkSpec {

  /** Every iterative gate query with the number of reliable-mode
    * checkpoint RDD directories it writes at [[Sf]] — one per cut, so
    * a cut added to or dropped from any loop moves its count. The set
    * covers PageRank (uniform, on both graphs), TrustRank, CC, the
    * delta-CC + index-merge path (which exercises the merge caches
    * too), both Lloyd's runs of the k-means audit and the principal
    * direction power iteration — every loop on
    * [[Checkpointing.iterate]]. */
  private val IterativeGates = Seq(
    "ev_type_pagerank" -> 7, "ev_user_pagerank" -> 7,
    "ev_user_trustrank" -> 9, "dedup_components" -> 4,
    "dedup_components_delta" -> 9, "kmeans_stability" -> 7,
    "emb_principal_dir" -> 4)

  /** The component/index caches memoize across runs — without a reset
    * the second mode would replay the FIRST mode's cached relation and
    * prove nothing. */
  private def resetCaches(): Unit = {
    DedupOps.invalidateIndexes()
    SimilarityOps.invalidateIndexes()
  }

  private def rowsOf(name: String): Seq[String] = {
    resetCaches()
    SparkEntry.queries(name)(spark, Sf).collect().map(_.toString).toSeq
  }

  private def rddDirsUnder(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-"))
      .toSeq
  }

  private def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
  }

  test("reliable mode is hash-identical to local mode on every " +
      "iterative gate query, and actually writes checkpoints") {
    val local = IterativeGates.map { case (n, _) => n -> rowsOf(n) }.toMap
    val dir = tmpDir("graft-ckpt")
    try {
      val dirs = IterativeGates.map { case (n, _) =>
        // one checkpoint dir per query so each count is its own
        spark.conf.set(Checkpointing.DirKey, s"$dir/$n")
        val reliable = rowsOf(n)
        assert(local(n).nonEmpty, s"$n returned no rows at $Sf")
        assert(local(n) == reliable,
          s"$n diverged between localCheckpoint and reliable checkpoint")
        n -> rddDirsUnder(s"$dir/$n").size
      }
      assert(dirs == IterativeGates,
        "reliable-mode checkpoint dirs per query moved: a cut was added " +
          "or dropped (or the seam fell back to localCheckpoint)")
    } finally {
      spark.conf.unset(Checkpointing.DirKey)
      resetCaches()
      deleteTree(dir)
    }
  }

  test("one cut in reliable mode writes exactly one checkpoint RDD " +
      "directory; a second cut adds exactly one more") {
    import spark.implicits._
    val dir = tmpDir("graft-ckpt-one")
    spark.conf.set(Checkpointing.DirKey, dir)
    try {
      val a = Checkpointing.cut(Seq(1L, 2L, 3L).toDF("x"))
      assert(a.count() == 3L)
      assert(rddDirsUnder(dir).size == 1,
        s"one cut must write one rdd-* dir, saw ${rddDirsUnder(dir)}")
      val b = Checkpointing.cut(a.selectExpr("x * 2 as x"))
      assert(b.count() == 3L)
      assert(rddDirsUnder(dir).size == 2,
        "each cut must write its own checkpoint, nothing more")
    } finally {
      spark.conf.unset(Checkpointing.DirKey)
      deleteTree(dir)
    }
  }

  test("default mode (conf unset) stays executor-local: no files, " +
      "plan truncated to a leaf") {
    import spark.implicits._
    val probe = tmpDir("graft-ckpt-none")
    deleteTree(probe) // must not exist afterwards either
    val cut = Checkpointing.cut(Seq(1L, 2L).toDF("x"))
    assert(cut.count() == 2L)
    assert(rddDirsUnder(probe).isEmpty)
    val nodes = cut.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodes <= 3, "cut must truncate lineage in local mode too")
    graft.operators.IndexCache.release(cut)
  }

  /** The id of the checkpoint RDD behind a cut. */
  private def leafId(df: DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  test("iterate runs a fixed count of steps, frees every superseded " +
      "state and leaves the final state and the caller's leaves alive") {
    import spark.implicits._
    // a static leaf every round reads, and a lazy init over it: both
    // stay the caller's
    val static = Checkpointing.cut(Seq(1L, 2L, 3L).toDF("k"))
    val inc = static.select(col("k"), col("k").as("inc"))
    val states = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (out, rounds) = Checkpointing.iterate("spec",
        static.select(col("k"), lit(0L).as("v")), rounds = 4,
        changed = next => { states += next; true }) { st =>
      st.join(inc, "k").select(col("k"), (col("v") + col("inc")).as("v"))
    }
    assert(rounds == 4)
    assert(states.size == 4 && (states.last eq out))
    states.init.foreach { st =>
      assert(!persisted(leafId(st)),
        s"superseded state rdd ${leafId(st)} is still persisted")
    }
    assert(persisted(leafId(out)))
    assert(out.orderBy("k").as[(Long, Long)].collect().toSeq ==
      Seq(1L -> 4L, 2L -> 8L, 3L -> 12L))
    assert(persisted(leafId(static)))
    assert(static.count() == 3L)
    IndexCache.release(out)
    IndexCache.release(static)
  }

  test("iterate stops at the first step that reports no change, and " +
      "frees an init that is itself a cut") {
    import spark.implicits._
    val init = Checkpointing.cut(Seq(0L, 1L, 2L).toDF("v"))
    def total(df: DataFrame): Long = df.agg(sum("v")).head().getLong(0)
    var prev = total(init)
    // v -> min(v + 1, 3): totals 3, 6, 8, 9, 9 — the fourth step is the
    // first whose state equals its predecessor's
    val (out, rounds) = Checkpointing.iterate("spec", init,
        changed = next => {
          val t = total(next)
          val c = t != prev
          prev = t
          c
        }) { st =>
      st.select(least(col("v") + 1L, lit(3L)).as("v"))
    }
    assert(rounds == 4)
    assert(!persisted(leafId(init)), "a cut init is iterate's to free")
    assert(out.as[Long].collect().toSeq == Seq(3L, 3L, 3L))
    IndexCache.release(out)
  }
}
