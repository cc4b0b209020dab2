package perfbench

import org.apache.spark.sql.functions._

import graft.ingest.ArenaIngest
import graft.lake.Lakehouse
import graft.schema.Schemas

/** The continual SRC: the cube grows by one commit per arena run. Each run
  * of the export is ingested through the engine's path (cluster by
  * problem, regroup cells into observations, append and commit) and then
  * read back through the incremental read of the commit it just made. */
final class ContinualIngest(run: Run) {
  private val spark = run.spark
  val arena = new Arena(run.seed, if (run.tiny) 10 else 16, runs = 8)
  private var exportDir = ""
  private var expected = Map.empty[Int, Long]
  private var bulkFp: Fp = _
  private val sortCols = Seq("implementation_id", "test_id", "step_id")

  private def content(l: Lakehouse) = l.load("observations").drop("created_at")

  /** Writes the export and certifies the expected outcome: each run's
    * observation count, and the fingerprint of the whole export ingested
    * by one bulk append (which also warms the ingest path). */
  def build(dir: String): Unit = {
    exportDir = s"$dir/export"
    arena.writeExport(spark, exportDir)
    expected = spark.read.parquet(exportDir).filter(col("TYPE") === "op")
      .groupBy("run").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ref = new Lakehouse(spark, s"$dir/bulk")
    ref.append("observations",
      ArenaIngest.observationsFromArena(
        ArenaIngest.clusterByProblemAuto(arena.readAll(spark, exportDir)), arena.dataSetId),
      Schemas.observations, sortCols = sortCols, clustered = true)
    bulkFp = Fp.write(content(ref))
    require(bulkFp.rows == arena.observationRows,
      s"bulk ingest holds ${bulkFp.rows} rows, the generator made ${arena.observationRows}")
    ref.incrementalRead("observations", 0, 1).count()
  }

  /** Commits the export's runs one by one into a fresh warehouse at `dir`,
    * each followed by its readback. */
  def sequence(dir: String): Unit = {
    val lake = new Lakehouse(spark, dir)
    for (k <- 0 until arena.runs) {
      val n = expected.getOrElse(k, 0L)
      run.op("commit", s"run$k") {
        val raw = run.step("ingest.read")(arena.readRun(spark, exportDir, k))
        val clustered = run.step("ingest.decide")(ArenaIngest.clusterByProblemAuto(raw))
        val obs = run.step("ingest.build")(
          ArenaIngest.observationsFromArena(clustered, arena.dataSetId))
        run.step("lake.append")(lake.append("observations", obs, Schemas.observations,
          sortCols = sortCols, clustered = true))
        run.step("lake.readback") {
          val v = lake.currentVersion("observations")
          lake.incrementalRead("observations", v - 1, v).count()
        }
      } { got =>
        if (got == n) None else Some(s"read back $got rows, the run holds $n")
      }
    }
  }

  /** Checks, untimed, the table a sequence left at `dir` against one bulk
    * append of the same export; a difference fails its last commit. */
  def verify(dir: String): Unit = {
    val fp = Fp.write(content(new Lakehouse(spark, dir)))
    if (fp != bulkFp) run.failLast(
      s"final table $fp differs from one bulk append of the same export $bulkFp")
  }

  def committedRows: Long = expected.values.sum
}
