package graft

import org.apache.spark.sql.types._

import graft.sources.Tables

/** Pins the LOADER-OUTPUT schema of every driver-generated table.
  *
  * The testdata is driver-owned and regenerated between rounds; round
  * 8 closed with `events.ts` silently changing encoding
  * (TIMESTAMP(NANOS)-as-BIGINT → native timestamp[us]), which took
  * down the whole event-analytics + stateful-streaming surface until
  * round 9. This spec is the loud in-suite tripwire for the NEXT
  * drift: it asserts what the rest of the engine may assume AFTER
  * [[Tables]]' normalization, with failure messages that say exactly
  * what breaks downstream and where to fix it.
  *
  * Deliberately NOT auto-tolerated: a speculative cast in the loader
  * (say double→float embeddings) would silently diverge from the
  * DuckDB oracles, which read the raw parquet — on a genuine type
  * drift BOTH sides must change together, so failing loudly here is
  * the correct behavior.
  */
class TestdataContractSpec extends SparkSpec {

  private def schemaOf(name: String): Map[String, DataType] =
    (name match {
      case "events" => Tables.events(spark, Sf)
      case t => Tables.load(spark, Sf, t)
    }).schema.fields.map(f => f.name -> f.dataType).toMap

  private def pin(table: String, col: String, expected: DataType,
      blast: String): Unit = {
    val actual = schemaOf(table).getOrElse(col,
      fail(s"$table.$col is GONE from the regenerated testdata — $blast"))
    assert(actual == expected,
      s"$table.$col drifted: expected $expected, testdata now yields " +
        s"$actual. $blast")
  }

  test("events loader yields a session TimestampType ts under either " +
      "file encoding") {
    pin("events", "ts", TimestampType,
      "Tables.decode (batch loader and stream replays) dispatches on " +
        "the read schema (LongType nanos vs timestamp) — a third " +
        "encoding needs " +
        "a new case there AND the epoch(ts) oracle convention re-checked " +
        "(19 ev_* + 10 stateful stream_* queries)")
    pin("events", "user_id", LongType,
      "ev_top_users_salted's salt arithmetic and the sessionize " +
        "groupByKey encoders assume int64 user ids")
    pin("events", "value", DoubleType,
      "ev_value_bands band bounds and the histogram bin math assume " +
        "double; an integer drift changes both engines' arithmetic")
  }

  test("embeddings: float32 vectors, int64 ids") {
    pin("embeddings", "embedding", ArrayType(FloatType),
      "ALL custom ANN expressions (LshBucket/CosineSim/... ) read " +
        "arr.getFloat and the canonVecs fingerprint serializes " +
        "float->string; a float64 drift must update HashExprs' type " +
        "checks AND every DuckDB oracle casting convention together — " +
        "do not silently cast here, the oracle reads the raw file")
    pin("embeddings", "vec_id", LongType,
      "bipartite CC encodes pair buckets as (a << 32 | b) — ids must " +
        "stay int64 and < 2^31")
    pin("embeddings", "label", IntegerType,
      "ann_filtered predicates and per-label index stats group on int32")
  }

  test("documents: string text, int64 ids (ASCII pinned elsewhere)") {
    pin("documents", "doc_id", LongType,
      "every delta/shard convention hashes CAST(doc_id AS VARCHAR); " +
        "the md5 canon and split assignment key on it")
    pin("documents", "text", StringType,
      "the CDC byte-addressing + ASCII invariant (AsciiInvariantSpec) " +
        "and every tokenizer expression assume a UTF8 string column")
    pin("documents", "n_chars", LongType,
      "doc_keep_decision tiebreaks on n_chars as int64")
  }

  test("relational tables keep the TPC-H-ish shapes the oracles assume") {
    // the parquet files carry no tz metadata, so Spark 4 reads these
    // as TimestampNTZ — the type the whole green relational surface
    // (and its epoch() oracle convention) is built on
    pin("orders", "o_orderdate", TimestampNTZType,
      "q4/q10-family date arithmetic and the DuckDB oracles treat " +
        "o_orderdate as a tz-less timestamp; a DATE (or tz-ful) drift " +
        "changes epoch math on both sides")
    pin("lineitem", "l_shipdate", TimestampNTZType,
      "q1's shipdate filter + oracle epoch convention")
    pin("lineitem", "l_quantity", DoubleType,
      "q1's exact-arithmetic sums route through the integer-scaled " +
        "Exact helpers sized for the current value domain")
    pin("customer", "c_custkey", LongType,
      "broadcast-join thresholds and salting arithmetic assume int64 " +
        "fact keys")
    pin("region", "r_regionkey", IntegerType,
      "dimension broadcast joins cast nation/region keys as int32")
  }
}
