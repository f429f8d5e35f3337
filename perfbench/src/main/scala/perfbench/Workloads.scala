package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Handed to every op call: the session, plus a place for the op to
  * record sub-timings (the traced run reports some of them).
  */
final class Ctx(val spark: SparkSession) {
  val sub = mutable.Map[String, Double]()
  def timed[T](key: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally sub(key) = (System.nanoTime() - t0) / 1e9
  }
}

final case class Op(name: String, run: Ctx => Unit)

/** An output check. `ok` is the JVM-side verdict; `sql` and `rows`, when
  * present, are compared against DuckDB by the Python side.
  */
final case class Check(op: String, ok: Boolean, detail: String,
                       sql: String = "", rows: Seq[Seq[Any]] = Nil)

trait Workload {
  def name: String
  def ops: Seq[Op]
  /** Drop cached tables before each op (each lane builds its own). */
  def clearBetweenOps: Boolean
  /** Untimed-in-the-pass artifacts: built once per set-up. */
  def prebuild(spark: SparkSession): Unit
  /** Runs every op once, untimed, and checks its output. `fault`
    * names an op whose output is deliberately corrupted (self-test).
    */
  def check(spark: SparkSession, outDir: String, fault: Option[String]): Seq[Check]
  /** Kernel throughputs, traced run only; empty where there is no corpus. */
  def kernels(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workloads {
  /** Forces every output row through the noop sink, as graft.Bench does. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  val FrameOps = Seq("read", "write", "filter", "group", "sort", "to_matrix",
    "pipeline_lazy", "pipeline_eager")
  val IngestLanes = Seq("q212")

  def apply(name: String, frameDir: String, frameRows: Long, corpusDir: String,
            scratch: String): Workload = name match {
    case "frame-ops" => new FrameOps(frameDir, frameRows, scratch)
    case "ingest-pipeline" => new Lanes(name, IngestLanes, corpusDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Registry lanes, each forced whole; checked against its DuckDB twin. */
  final class Lanes(val name: String, lanes: Seq[String], dir: String) extends Workload {
    private val byShort = graft.Registry.all.map(q => q.name.takeWhile(_ != '_') -> q).toMap
    private val qs = lanes.map(byShort)
    val clearBetweenOps = true
    val ops: Seq[Op] = lanes.zip(qs).map { case (n, q) =>
      Op(n, c => force(q.build(c.spark, dir)))
    }
    /** The lanes build their derived stores on first use, in the warm pass. */
    def prebuild(spark: SparkSession): Unit = ()

    def check(spark: SparkSession, outDir: String, fault: Option[String]): Seq[Check] = {
      val oracle = mutable.LinkedHashMap[String, String]()
      val checks = lanes.zip(qs).map { case (n, q) =>
        spark.catalog.clearCache()
        try {
          val df = q.build(spark, dir)
          val out = if (fault.contains(n)) df.union(df.limit(1)) else df
          out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
          q.oracle.foreach(oracle(q.name) = _)
          Check(n, ok = q.oracle.isDefined,
            if (q.oracle.isDefined) "dumped" else "lane has no oracle twin")
        } catch { case e: Exception => Check(n, ok = false, s"threw: $e") }
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
        Json(oracle.toMap))
      checks
    }

    /** Rows per second of the hash / shingle / MinHash kernels over the
      * corpus text, repeated (200k rows for the hash, 10k for the slower
      * array kernels) and spread over the session's cores; median of 3.
      */
    override def kernels(spark: SparkSession): Map[String, Double] = {
      import graft.functions.HashFns._
      val docs = graft.Tables.documents(spark, dir).select("text")
      val nDocs = math.max(1L, docs.count())
      def repeated(rows: Long): DataFrame = {
        val df = docs.crossJoin(spark.range(math.max(1L, rows / nDocs))).select("text")
          .repartition(spark.sparkContext.defaultParallelism).cache()
        df.count()
        df
      }
      def rate(df: DataFrame)(f: DataFrame => DataFrame): Double = {
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); force(f(df)); (System.nanoTime() - t0) / 1e9
        }
        df.count() / Stats.median(ts)
      }
      val text = repeated(200000L)
      val small = repeated(10000L)
      val grams = small.select(shingles(tokens(col("text")), 5).as("sh")).cache()
      val out = Map(
        "kernel.hash64_rows_per_s" -> rate(text)(_.select(hash64(col("text")))),
        "kernel.shingles_rows_per_s" -> rate(small)(_.select(shingles(tokens(col("text")), 5))),
        "kernel.minhash_rows_per_s" -> rate(grams)(_.select(minhashSig(col("sh")))))
      spark.catalog.clearCache()
      out
    }
  }

  /** The paper's workload on a diabetes-shaped CSV: read, write, filter,
    * group, sort and to-matrix on the loaded frame, and main.rs's lazy
    * and eager pipelines from the CSV.
    */
  final class FrameOps(csv: String, rows: Long, scratch: String) extends Workload {
    val name = "frame-ops"
    val clearBetweenOps = false
    private var table: DataFrame = _
    private val Cols = Seq("Pregnancies", "Glucose", "BloodPressure", "SkinThickness",
      "Insulin", "BMI", "DiabetesPedigreeFunction", "Age", "Outcome")
    private val FilterSql = "Glucose > 120"
    private def read(s: SparkSession) = graft.sources.CsvIngest.readInferFast(s, csv)
    private def filtered(t: DataFrame) = t.filter(col("Glucose") > 120)
    private def grouped(t: DataFrame) =
      t.groupBy("Outcome").agg(avg("Glucose").as("mean_glucose")).orderBy("Outcome")
    private def sorted(t: DataFrame) = t.orderBy(col("Age").desc)
    private def matrix(t: DataFrame) =
      t.select(array(Cols.map(c => col(c).cast("double")): _*).as("vec"))
    // main.rs: sort, filter, group-mean; the lazy plan drops the sort
    private def pipeline(t: DataFrame) =
      filtered(t.orderBy(col("Glucose"))).groupBy("Outcome")
        .agg(avg("Age").as("mean_age"), avg("Glucose").as("mean_glucose"))
        .orderBy("Outcome")
    private def eager(s: SparkSession): Seq[org.apache.spark.sql.Row] = {
      val scan = read(s).cache(); scan.count()
      val srt = scan.orderBy(col("Glucose")).cache(); srt.count()
      val flt = filtered(srt).cache(); flt.count()
      val out = flt.groupBy("Outcome")
        .agg(avg("Age").as("mean_age"), avg("Glucose").as("mean_glucose"))
        .orderBy("Outcome").collect().toSeq
      Seq(flt, srt, scan).foreach(_.unpersist(blocking = true))
      out
    }
    private val writeDir = s"$scratch/frame_write"

    def prebuild(spark: SparkSession): Unit = {
      table = read(spark).cache()
      table.count()
      ()
    }

    val ops: Seq[Op] = Seq(
      Op("read", c => {
        c.sub("rows") = rows.toDouble
        val df = c.timed("infer")(graft.sources.CsvIngest.readPrefix(c.spark, csv, rows))
        force(df)
      }),
      Op("write", _ => table.write.mode("overwrite").option("header", "true").csv(writeDir)),
      Op("filter", _ => force(filtered(table))),
      Op("group", _ => force(grouped(table))),
      Op("sort", _ => force(sorted(table))),
      Op("to_matrix", _ => force(matrix(table))),
      Op("pipeline_lazy", c => force(pipeline(read(c.spark)))),
      Op("pipeline_eager", c => { eager(c.spark); () }))

    def check(spark: SparkSession, outDir: String, fault: Option[String]): Seq[Check] = {
      def off(op: String): Long = if (fault.contains(op)) 1L else 0L
      def guard(op: String)(f: => Check): Check =
        try f catch { case e: Exception => Check(op, ok = false, s"threw: $e") }
      def bump(op: String, rs: Seq[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
        rs.map(_.toSeq.map {
          case d: Double => d + off(op)
          case v => v
        })
      Seq(
        guard("read") {
          val df = graft.sources.CsvIngest.readPrefix(spark, csv, rows)
          val n = df.count() + off("read")
          val numeric = df.schema.fields.forall(_.dataType.isInstanceOf[
            org.apache.spark.sql.types.NumericType])
          Check("read", n == rows && df.columns.length == 9 && numeric,
            s"rows $n of $rows, ${df.columns.length} numeric=$numeric")
        },
        guard("write") {
          table.write.mode("overwrite").option("header", "true").csv(writeDir)
          val n = spark.read.option("header", "true").csv(writeDir).count() + off("write")
          Check("write", n == rows, s"re-read $n of $rows rows")
        },
        guard("filter") {
          val n = filtered(table).count() + off("filter")
          Check("filter", ok = true, s"$n rows",
            s"SELECT count(*) FROM frame WHERE $FilterSql", Seq(Seq(n)))
        },
        guard("group") {
          val got = grouped(table).collect().toSeq.map(r =>
            Seq(r.getInt(0), r.getDouble(1) + off("group")))
          Check("group", ok = true, s"${got.size} groups",
            "SELECT Outcome, avg(Glucose) FROM frame GROUP BY Outcome ORDER BY Outcome", got)
        },
        guard("sort") {
          val ages = sorted(table).select("Age").rdd.mapPartitions { it =>
            var n = 0L; var first = Int.MinValue; var last = Int.MaxValue; var ok = true
            it.foreach { r =>
              val a = r.getInt(0)
              if (n == 0) first = a
              if (a > last) ok = false
              last = a; n += 1
            }
            Iterator((n, first, last, ok))
          }.collect().filter(_._1 > 0).toSeq
          val n = ages.map(_._1).sum + off("sort")
          val within = ages.forall(_._4)
          val across = ages.sliding(2).forall {
            case Seq(a, b) => a._3 >= b._2
            case _ => true
          }
          Check("sort", n == rows && within && across,
            s"rows $n, ordered within=$within across=$across")
        },
        guard("to_matrix") {
          val r = matrix(table).agg(min(size(col("vec"))), max(size(col("vec"))), count(lit(1)))
            .head()
          val w = r.getInt(1) + off("to_matrix")
          Check("to_matrix", r.getInt(0) == 9 && w == 9 && r.getLong(2) == rows,
            s"width ${r.getInt(0)}..$w over ${r.getLong(2)} rows")
        },
        guard("pipeline_lazy") {
          val lazyRows = bump("pipeline_lazy", pipeline(read(spark)).collect().toSeq)
          Check("pipeline_lazy", ok = true, s"${lazyRows.size} groups",
            s"SELECT Outcome, avg(Age), avg(Glucose) FROM frame WHERE $FilterSql " +
              "GROUP BY Outcome ORDER BY Outcome", lazyRows)
        },
        guard("pipeline_eager") {
          val e = bump("pipeline_eager", eager(spark))
          val l = pipeline(read(spark)).collect().toSeq.map(_.toSeq)
          Check("pipeline_eager", e == l, s"eager == lazy: ${e == l}")
        })
    }
  }
}
