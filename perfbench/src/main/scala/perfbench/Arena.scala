package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic arena export: the cell-level table the reference's
  * arena writes and [[graft.ingest.ArenaIngest]] reads. Problem shapes
  * follow the reference lakehouse: 2-37 implementations per problem and
  * a skewed observation count per problem (56-2,416 rows, mean ~650).
  * Implementations of a problem fall into 1-4 behaviour classes (outputs
  * depend on the class only), so behavioural clustering has real clusters
  * to find, and the generator knows them.
  *
  * Every observation row becomes three cells (op, input, output). Each
  * row goes to one of `runs` arena runs by a hash of its own key, so every
  * run touches every problem. */
final case class ProblemShape(id: String, impls: Int, tests: Int, steps: Int,
    classOf: Seq[Int]) {
  def rows: Long = impls.toLong * tests * steps

  /** Implementations that behave alike, as sorted implementation-id lists. */
  def clusters(implId: Int => String): Seq[Seq[String]] =
    classOf.indices.groupBy(classOf).values.map(_.map(implId).sorted.toSeq).toSeq
      .sortBy(_.mkString(","))
}

final class Arena(seed: Long, problems: Int, val runs: Int) {
  val dataSetId = "arena"

  /** Problem shapes, stratified: the sizes are quantiles of the target
    * distributions, dealt to problems in a seeded order, so every seed gets
    * the same mix of small and large problems and only their contents and
    * placement change. */
  val shapes: Seq[ProblemShape] = {
    val r = new java.util.SplittableRandom(seed)
    def strata(): Seq[Double] =
      shuffle((0 until problems).map(p => (p + r.nextDouble()) / problems), r)
    val (u, v) = (strata(), strata())
    (0 until problems).map { p =>
      val impls = 2 + math.min(35, (v(p) * 36).toInt)
      val tests = 2 + r.nextInt(4)
      val target = 56 + 2360 * u(p) * u(p) * u(p)
      val steps = math.max(1, math.round(target / (impls * tests)).toInt)
      val classes = 1 + r.nextInt(4)
      ProblemShape(f"p$p%04d", impls, tests, steps, Seq.fill(impls)(r.nextInt(classes)))
    }
  }

  private def shuffle[T](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** Problems split into `n` groups of similar observation count, each
    * sorted by size. */
  def sizeGroups(n: Int): Seq[Seq[ProblemShape]] = {
    val bySize = shapes.sortBy(s => (s.rows, s.id))
    (0 until n).map(g => bySize.slice(g * bySize.size / n, (g + 1) * bySize.size / n))
  }

  val byId: Map[String, ProblemShape] = shapes.map(s => s.id -> s).toMap
  def observationRows: Long = shapes.map(_.rows).sum

  private def steps(spark: SparkSession): DataFrame = {
    import spark.implicits._
    shapes.map(s => (s.id, s.impls, s.tests, s.steps, s.classOf))
      .toDF("pid", "n_impl", "n_test", "n_step", "class_of")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("i", explode(sequence(lit(0), col("n_impl") - 1)))
      .withColumn("t", explode(sequence(lit(0), col("n_test") - 1)))
      .withColumn("s", explode(sequence(lit(1), col("n_step"))))
      .withColumn("c", element_at(col("class_of"), col("i") + 1))
  }

  /** Observation cells; `run` column in [0, runs). */
  def observationCells(spark: SparkSession): DataFrame =
    steps(spark)
      .withColumn("run", pmod(xxhash64(lit(seed), col("pid"), col("i"), col("t"),
        col("s"), lit("run")), lit(runs)).cast("int"))
      .selectExpr(
        "run",
        "concat('run', CAST(run AS STRING)) AS EXECUTIONID",
        "pid AS ABSTRACTIONID",
        "concat('sys', CAST(i AS STRING)) AS SYSTEMID",
        "'' AS VARIANTID", "'0' AS ADAPTERID",
        "concat('t', CAST(t AS STRING)) AS SHEETID",
        "'arena1' AS ARENAID", "s AS Y",
        s"""stack(3,
          1, 'op', 'invoke',
          2, 'input_value', concat('i', CAST(pmod(xxhash64(${seed}L, pid, t, s), 100) AS STRING)),
          3, 'value', concat('o', CAST(pmod(xxhash64(${seed}L, pid, c, t, s), 1000) AS STRING)))
          AS (X, TYPE, VALUE)""",
        s"CAST(pmod(xxhash64(${seed}L, pid, i, t, s, 'ms'), 10000) AS DOUBLE) / 10.0 AS EXECUTIONTIME")

  /** Sheet metadata cells (Y = -1): one implementation source per
    * implementation, one stimulus sheet and focal interface per test. */
  def metadataCells(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val impls = shapes.flatMap(s => (0 until s.impls).map(i => (s.id, s"sys$i",
      "interface", s"class Impl$i implements IFace {\n  // ${s.id}\n  int run(int x) { return x + $i; }\n}")))
    val tests = shapes.flatMap(s => (0 until s.tests).flatMap(t => Seq(
      (s.id, s"t$t", "stimulussheet", s"""{"sheet":"t$t","steps":${s.steps}}"""),
      (s.id, s"t$t", "interface", "IFace"))))
    val code = impls.toDF("pid", "sys", "type", "value").selectExpr(
      "'run0' AS EXECUTIONID", "pid AS ABSTRACTIONID", "sys AS SYSTEMID",
      "'' AS VARIANTID", "'0' AS ADAPTERID", "'meta' AS SHEETID",
      "'arena1' AS ARENAID", "-1 AS Y", "0 AS X", "type AS TYPE",
      "value AS VALUE", "CAST(0.0 AS DOUBLE) AS EXECUTIONTIME")
    val sheets = tests.toDF("pid", "sheet", "type", "value").selectExpr(
      "'run0' AS EXECUTIONID", "pid AS ABSTRACTIONID",
      "'abstraction' AS SYSTEMID", "'' AS VARIANTID", "'0' AS ADAPTERID",
      "sheet AS SHEETID", "'arena1' AS ARENAID", "-1 AS Y", "0 AS X",
      "type AS TYPE", "value AS VALUE", "CAST(0.0 AS DOUBLE) AS EXECUTIONTIME")
    code.unionByName(sheets)
  }

  /** Writes the export as parquet, one directory per arena run
    * (`<dir>/run=<k>`) of a few files each, with the metadata cells in
    * run 0. */
  def writeExport(spark: SparkSession, dir: String): Unit = {
    val cells = observationCells(spark)
      .unionByName(metadataCells(spark).withColumn("run", lit(0)))
    cells.repartition(spark.sparkContext.defaultParallelism).write.mode("overwrite")
      .partitionBy("run").parquet(dir)
  }

  def readRun(spark: SparkSession, dir: String, run: Int): DataFrame =
    spark.read.parquet(s"$dir/run=$run")

  def readAll(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("run")
}
