package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSONL (JSON Lines) ingestion — the interchange format LLM-pipeline
  * corpora actually ship in (one JSON object per line, nested
  * metadata riding as structs), with the same sampled-inference
  * contract as [[CsvIngest.readInferFast]]: Spark's native JSON
  * inference reads and parses EVERY byte once just to discover the
  * schema, then again to load. Inferring on ONE data file (plus
  * row-level samplingRatio) and pinning the schema for the full scan
  * drops the inference cost to 1/n_files × ratio of the data while
  * the main scan keeps its pushdown and parallelism — and unlike
  * CSV, the inferred schema here is a TREE (nested structs land as
  * StructType fields addressable by dot path, arrays as ArrayType),
  * so the fast path must preserve nesting, not flatten it. The trade
  * is CsvIngest's: a type visible only outside the sampled file
  * widens late; machine-written exports (the JSONL norm) don't hit
  * it, adversarial inputs pass an explicit schema.
  */
object JsonIngest {

  /** First data file of `path` (Hadoop FS — works against HDFS/S3 at
    * scale), or `path` itself if it is a file.
    */
  private def sampleFile(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) path
    else {
      val parts = fs.listStatus(p)
        .filter(s => s.isFile && s.getLen > 0 && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
      parts.headOption.map(_.getPath.toString).getOrElse(path)
    }
  }

  def readInferFast(spark: SparkSession, path: String,
                    samplingRatio: Double = 0.05): DataFrame = {
    val file = sampleFile(spark, path)
    val sampled = spark.read
      .option("samplingRatio", samplingRatio.toString)
      .json(file)
      .schema
    // Spark samples rows with a fixed seed, so a small file can draw an
    // empty sample every time: infer over the whole file instead
    val schema = if (sampled.nonEmpty) sampled else spark.read.json(file).schema
    spark.read.schema(schema).json(path)
  }
}
