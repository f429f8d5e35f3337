package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** q194's sampled-inference JSONL contract: the one-file inferred
  * schema must agree with the full-scan inferred schema (on this
  * machine-written fixture), must arrive as a TREE (nested struct
  * preserved, not flattened or stringified), and the read-back rows
  * must round-trip the source exactly at row level — the oracle only
  * sees the rollup.
  */
class JsonIngestSpec extends AnyFunSuite with SparkTestBase {

  private def fixtureDir: String = {
    // build through the registered lane so the marker discipline holds
    ops.CoreOps.jsonlIngest(spark, sf).collect()
    s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_${math.abs(sf.hashCode)}"
  }

  test("single-file inference == full-scan inference, and the schema is a tree") {
    val dir = fixtureDir
    val fast = sources.JsonIngest.readInferFast(spark, dir).schema
    val full = spark.read.json(dir).schema
    assert(fast == full,
      s"sampled inference drifted from the full scan:\n$fast\nvs\n$full")
    val meta = fast("meta").dataType
    assert(meta.isInstanceOf[StructType],
      s"nested metadata flattened/stringified to $meta")
    assert(meta.asInstanceOf[StructType].fieldNames.sorted.toSeq ==
      Seq("lang", "n_chars", "source"))
    // the fixture must genuinely be multi-file or the sampled-inference
    // path degenerates to the full scan
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(parts >= 2, s"only $parts data files — single-file fixture")
  }

  test("JSONL round-trips every field exactly (row-level, not just the rollup)") {
    val dir = fixtureDir
    val got = sources.JsonIngest.readInferFast(spark, dir)
      .select(col("doc_id"), col("meta.lang").as("lang"),
              col("meta.source").as("source"),
              col("meta.n_chars").as("n_chars"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
                 r.getLong(3), r.getString(4))).toSeq
    val want = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
                 r.getLong(3), r.getString(4))).toSeq
    assert(got.size == want.size)
    assert(got == want, "a field drifted through the JSONL round trip")
  }

  test("a file too small for the row sample still infers its full schema") {
    // Spark's row sampling uses a fixed seed, so a 5 % sample of a few
    // lines is empty on every run; the read must not come back
    // with zero columns
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_small")
    val lines = (1 to 4).map(i => s"""{"doc_id": $i, "text": "doc $i"}""")
    java.nio.file.Files.write(dir.resolve("part-00000.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    try {
      val df = sources.JsonIngest.readInferFast(spark, dir.toString)
      assert(df.schema.fieldNames.toSeq == Seq("doc_id", "text"),
        s"inferred ${df.schema}")
      val got = df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == (1 to 4).map(i => (i.toLong, s"doc $i")))
    } finally Fixtures.clearDir(dir)
  }
}
