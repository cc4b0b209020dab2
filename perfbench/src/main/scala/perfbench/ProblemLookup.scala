package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.ArenaIngest
import graft.lake.Lakehouse
import graft.queries.CanonicalQueries
import graft.schema.Schemas

/** The paper's interactive path: a client opens the lakehouse snapshot
  * and asks the four canonical questions about a few problems. Every
  * request builds a fresh DataFrame (partition filter, interactive
  * single-partition execution, query builder) and collects it, so each
  * request pays its own planning, as the reference's DuckDB client does. */
final class ProblemLookup(run: Run, interactive: SparkSession) {
  import ProblemLookup._
  private val spark = run.spark
  val arena = new Arena(run.seed, if (run.tiny) 20 else 40, runs = 1)
  private var lake: Lakehouse = _
  private var lakeDir = ""

  // certified results, keyed by problem
  private val statsFp = mutable.HashMap.empty[String, Fp]
  private val joinFp = mutable.HashMap.empty[String, Fp]
  private val seen = mutable.HashMap.empty[(String, String), Fp]

  /** Builds the lakehouse through the engine's ingest path, from cells the
    * generator produces in memory. */
  def build(dir: String): Unit = {
    lakeDir = s"$dir/lake"
    val l = new Lakehouse(spark, lakeDir)
    val cells = arena.observationCells(spark)
    l.append("observations",
      ArenaIngest.observationsFromArena(ArenaIngest.clusterByProblemAuto(cells),
        arena.dataSetId),
      Schemas.observations,
      sortCols = Seq("implementation_id", "test_id", "step_id"), clustered = true)
    val meta = arena.metadataCells(spark)
    l.append("code_implementations",
      ArenaIngest.codeFromArena(meta, arena.dataSetId), Schemas.codeImplementations)
    l.append("tests", ArenaIngest.testsFromArena(meta, arena.dataSetId), Schemas.tests)
    lake = l
  }

  /** Certifies the expected result of every (problem, kind) pair through
    * paths other than the one timed: per-problem statistics and the
    * three-way join over the whole table on the batch path; clusters and
    * sizes straight from the generator. The batch-path queries also warm
    * up the query builders before the first timed request. */
  def certify(): Unit = {
    val obs = lake.observations
    val stats = CanonicalQueries.perProblemStats(obs)
    val ord = Fp.order(stats.schema)
    stats.collect().foreach { r =>
      statsFp(r.getAs[String]("problem_id")) = Fp(1, Fp.ofRow(r, ord))
    }
    val join = CanonicalQueries.threeWayJoin(obs, lake.codeImplementations, lake.tests)
    val jord = Fp.order(join.schema)
    val pidAt = join.schema.fieldIndex("problem_id")
    join.rdd.map(r => (r.getString(pidAt), Fp(1, Fp.ofRow(r, jord))))
      .reduceByKey(_ + _).collect().foreach { case (p, fp) => joinFp(p) = fp }
  }

  private var tables: (DataFrame, DataFrame, DataFrame) = _

  /** Opens the snapshot: one `Lakehouse.load` per table. */
  def openSnapshot(): Unit = {
    val l = new Lakehouse(interactive, lakeDir)
    def load(t: String) = run.step("lake.open") {
      val df = l.load(t)
      run.tracer.attr("files_listed", df.inputFiles.length)
      df
    }
    tables = (load("observations"), load("code_implementations"), load("tests"))
  }

  private def pruned(df: DataFrame, p: String) = CanonicalQueries.interactive(
    df.filter(col("data_set_id") === arena.dataSetId && col("problem_id") === p))

  def request(p: String, kind: String): Option[Array[Row]] = {
    val shape = arena.byId(p)
    var schema: org.apache.spark.sql.types.StructType = null
    run.op(kind, s"$p") {
      val df = run.step("queries.build") {
        val (o, c, t) = tables
        kind match {
          case SrmView => CanonicalQueries.srmOutputViewDynamic(pruned(o, p))
          case Clustering => CanonicalQueries.behavioralClustering(pruned(o, p))
          case Join => CanonicalQueries.threeWayJoin(pruned(o, p), pruned(c, p), pruned(t, p))
          case Stats => CanonicalQueries.perProblemStats(pruned(o, p))
        }
      }
      schema = df.schema
      run.step("exec") {
        val rows = df.collect()
        run.addRows(rows.length)
        rows
      }
    } { rows =>
      val fp = Fp.of(rows, schema)
      val prior = seen.getOrElseUpdate((p, kind), fp)
      def expect(cond: Boolean, msg: => String) = if (cond) None else Some(msg)
      val own = kind match {
        case Stats =>
          val r = rows.headOption
          expect(rows.length == 1 &&
            r.get.getAs[Long]("n_implementations") == shape.impls &&
            r.get.getAs[Long]("n_tests") == shape.tests &&
            r.get.getAs[Long]("n_observations") == shape.rows &&
            statsFp.get(p).contains(fp),
            s"stats ${rows.map(_.toString).mkString} != certified ${statsFp.get(p)} / $shape")
        case Join =>
          expect(rows.length == shape.rows && joinFp.get(p).contains(fp),
            s"join $fp != certified ${joinFp.get(p)} (${shape.rows} rows expected)")
        case Clustering =>
          val got = rows.map(_.getAs[scala.collection.Seq[String]]("implementations").sorted.toSeq)
            .toSeq.sortBy(_.mkString(","))
          expect(shape.clusters(implId) == got &&
            rows.forall(r => r.getAs[Long]("cluster_size") ==
              r.getAs[scala.collection.Seq[String]]("implementations").size),
            s"clusters ${got.map(_.size)} != generator ${shape.clusters(implId).map(_.size)}")
        case SrmView =>
          expect(rows.length == shape.tests * shape.steps &&
            schema.size == shape.impls + 2,
            s"srm view ${rows.length}x${schema.size} != " +
              s"${shape.tests * shape.steps}x${shape.impls + 2}")
      }
      own.orElse(expect(prior == fp, s"$kind result changed between requests: $prior -> $fp"))
    }
  }

  /** The five problems a session asks about: the middle one of each fifth
    * of the problems by size. Every session does the same work, and so does
    * every seed's; which problems those are, and their contents, follow the
    * seed. */
  val picks: Seq[String] = arena.sizeGroups(ProblemsPerSession).map(g => g(g.size / 2).id)

  /** One client session: open the snapshot, then the four canonical
    * queries for each picked problem. */
  def session(): Unit = {
    run.op("open", "snapshot")(openSnapshot())(_ => None)
    for (p <- picks; k <- Kinds) request(p, k)
  }

  /** Data files of the three tables. */
  def tableFiles: Long = Seq("observations", "code_implementations", "tests")
    .map(t => DataFiles.list(s"$lakeDir/$t").size.toLong).sum
}

object ProblemLookup {
  val SrmView = "srm_view"
  val Clustering = "clustering"
  val Join = "join"
  val Stats = "stats"
  val Kinds = Seq(SrmView, Clustering, Join, Stats)
  val ProblemsPerSession = 5
  /** Untimed sessions at the end of set-up. Session times keep falling for
    * several sessions while the JIT compiles the planner's hot paths. */
  val WarmSessions = 5
  def implId(i: Int) = s"sys${i}_default_0"
}
