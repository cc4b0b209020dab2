package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-insensitive content fingerprint of a result: its row count plus
  * the 64-bit sum of one hash per row. A row is rendered with its columns
  * sorted by name (the oracle comparison's convention) and every value in
  * a canonical text form, so two engines or two plans that return the
  * same bag of rows give the same fingerprint. */
final case class Fp(rows: Long, sum: Long) {
  def +(o: Fp): Fp = Fp(rows + o.rows, sum + o.sum)
  override def toString: String = f"$rows:$sum%016x"
}

object Fp {
  val empty: Fp = Fp(0L, 0L)

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float =>
      if (f.isNaN) "NaN" else if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  def hash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Column positions in name order. */
  def order(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  def ofRow(r: Row, ord: Array[Int]): Long =
    hash(ord.map(i => render(r.get(i))).mkString("\u0001"))

  def of(rows: Array[Row], schema: StructType): Fp = {
    val ord = order(schema)
    Fp(rows.length.toLong, rows.foldLeft(0L)((acc, r) => acc + ofRow(r, ord)))
  }

  /** Materializes every row of `df`, like Spark's noop sink, and returns
    * the rows' fingerprint computed inside the write tasks. */
  def write(df: DataFrame): Fp = {
    val token = java.util.UUID.randomUUID().toString
    df.write.format(classOf[FingerprintSink].getName)
      .option(FingerprintSink.TokenOption, token).mode("overwrite").save()
    Option(FingerprintSink.results.remove(token)).getOrElse(
      throw new IllegalStateException("fingerprint sink returned no result"))
  }
}

/** A write-only DataSource V2 table that hashes the rows it is given and
  * discards them. It plays the role of the `noop` sink (every row and
  * every column is computed) while also yielding [[Fp]] of the output. */
class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FingerprintSink.SinkTable(
      properties.asScala.find(_._1.equalsIgnoreCase(FingerprintSink.TokenOption))
        .map(_._2).getOrElse(""))
}

object FingerprintSink {
  val TokenOption = "perfbench.token"
  val results = new ConcurrentHashMap[String, Fp]()

  final case class Partial(fp: Fp) extends WriterCommitMessage

  class SinkTable(token: String) extends Table with SupportsWrite {
    override def name(): String = "perfbench_fingerprint"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new SinkBatch(token, info.schema())
        }
      }
  }

  class SinkBatch(token: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = new SinkWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      results.put(token, messages.collect { case Partial(fp) => fp }
        .foldLeft(Fp.empty)(_ + _))
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  class SinkWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        private val ord = Fp.order(schema)
        private var rows = 0L
        private var sum = 0L
        override def write(r: InternalRow): Unit = {
          rows += 1
          sum += Fp.ofRow(toRow(r).asInstanceOf[Row], ord)
        }
        override def commit(): WriterCommitMessage = Partial(Fp(rows, sum))
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
