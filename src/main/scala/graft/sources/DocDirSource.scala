package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.{col, from_json, length, struct, to_json}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Document-store read as a THIN DataSource V2: a root directory of
  * collections (subdirectories) holding one JSON document per file —
  * the on-disk shape of a document-DB export (the reference's actual
  * source is MongoDB, products.js:363-367 / db.js:6-12; no
  * public Mongo connector is available offline, so this closes the
  * source-fidelity gap over its exported form).
  *
  * Surface: `spark.read.format("graft-docs").load(root)` with fixed
  * schema (doc_path, collection, body, mtime, size) — raw documents;
  * `DocStore.readCollection` applies the target schema via from_json,
  * exactly how a Mongo raw read maps BSON to rows.
  *
  * Scale/pushdown: an `EqualTo`/`In` filter on `collection` is pushed
  * INTO FILE LISTING — only the selected collections' directories are
  * ever listed or read (the document-store analog of partition
  * pruning; unit-pinned in DocDirSourceSpec). Files are bin-packed
  * into input partitions by byte size, so many small documents read
  * with bounded task counts and a huge collection still fans out. */
class DocDirSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-docs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocDirSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new DocDirTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-docs needs .load(<root dir>)")))
}

object DocDirSource {
  val Schema: StructType = StructType(Seq(
    StructField("doc_path", StringType, nullable = false),
    StructField("collection", StringType, nullable = false),
    StructField("body", StringType, nullable = false),
    StructField("mtime", LongType, nullable = false),
    StructField("size", LongType, nullable = false)))

  /** One discovered document file. */
  final case class DocFile(path: String, collection: String,
      mtime: Long, size: Long)

  /** List (collection, file) pairs under `root`, reading ONLY the
    * collections in `keep` when set — the pushdown target. Stable
    * order (collection, then name) so partition planning is
    * deterministic. */
  def planFiles(root: String, keep: Option[Set[String]]): Seq[DocFile] = {
    val dir = new java.io.File(root)
    val colls = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .filter(c => keep.forall(_.contains(c.getName)))
      .sortBy(_.getName)
    colls.flatMap { c =>
      Option(c.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".json"))
        .sortBy(_.getName)
        .map(f => DocFile(f.getAbsolutePath, c.getName, f.lastModified(), f.length()))
    }.toSeq
  }

  /** Per-file open cost added to the bin-packing weight — Spark's
    * `files.openCostInBytes` trick (default 4 MB there; documents
    * are per-file reads here, so the same logic caps how many tiny
    * documents serialize into one task instead of packing a million
    * 2 KB docs into a single 128 MB "partition"). */
  val OpenCostBytes: Long = 4L * 1024 * 1024

  /** Bin-pack files into partitions by cumulative (size + open cost). */
  def pack(files: Seq[DocFile], targetBytes: Long,
      openCost: Long = OpenCostBytes): Seq[Seq[DocFile]] = {
    val out = Seq.newBuilder[Seq[DocFile]]
    var cur = Seq.newBuilder[DocFile]
    var bytes = 0L; var any = false
    files.foreach { f =>
      val w = f.size + openCost
      if (any && bytes + w > targetBytes) {
        out += cur.result(); cur = Seq.newBuilder[DocFile]; bytes = 0L; any = false
      }
      cur += f; bytes += w; any = true
    }
    if (any) out += cur.result()
    out.result()
  }
}

private[sources] class DocDirTable(root: String) extends Table with SupportsRead {
  override def name(): String = s"graft-docs:$root"
  override def schema(): StructType = DocDirSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocDirScanBuilder(root,
      Option(options.get("targetPartitionBytes")).map(_.toLong)
        .getOrElse(128L * 1024 * 1024))
}

private[sources] class DocDirScanBuilder(root: String, targetBytes: Long)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var keep: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = DocDirSource.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("collection", _: String) => true
      case In("collection", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    keep = accepted.foldLeft(Option.empty[Set[String]]) { (acc, f) =>
      val s = f match {
        case EqualTo(_, v: String) => Set(v)
        case In(_, vs) => vs.map(_.asInstanceOf[String]).toSet
        case _ => Set.empty[String]
      }
      Some(acc.fold(s)(_ intersect s))
    }
    pushed = accepted
    rest // Spark re-applies the rest post-scan
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new DocDirScan(root, keep, required, targetBytes)
}

private[sources] class DocDirScan(root: String, keep: Option[Set[String]],
    required: StructType, targetBytes: Long) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val k = keep.map(_.toSeq.sorted.mkString(",")).getOrElse("*")
    s"graft-docs root=$root collections=$k"
  }
  override def planInputPartitions(): Array[InputPartition] =
    DocDirSource.pack(DocDirSource.planFiles(root, keep), targetBytes)
      .map(fs => DocDirPartition(fs.toArray): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new DocDirReaderFactory(required.fieldNames)
}

private[sources] final case class DocDirPartition(
    files: Array[DocDirSource.DocFile]) extends InputPartition

private[sources] class DocDirReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val files = p.asInstanceOf[DocDirPartition].files
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < files.length }
      override def get(): InternalRow = {
        val f = files(i)
        InternalRow.fromSeq(fields.map {
          case "doc_path" => UTF8String.fromString(f.path)
          case "collection" => UTF8String.fromString(f.collection)
          case "body" => UTF8String.fromBytes(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f.path)))
          case "mtime" => f.mtime
          case "size" => f.size
        }.toIndexedSeq)
      }
      override def close(): Unit = ()
    }
  }
}

/** Typed reads over the graft-docs source — the Mongo-collection
  * analog surface the sync pipeline consumes. */
object DocStore {
  /** Raw document rows, optionally one collection (pushed down into
    * file listing). */
  def readDocuments(spark: SparkSession, root: String,
      collection: Option[String] = None): DataFrame = {
    val df = spark.read.format("graft-docs").load(root)
    collection.fold(df)(c => df.filter(col("collection") === c))
  }

  /** One collection parsed to `schema` — from_json over each
    * document body, the BSON→row mapping of a document-DB read. */
  def readCollection(spark: SparkSession, root: String, collection: String,
      schema: StructType): DataFrame =
    readDocuments(spark, root, Some(collection))
      .select(from_json(col("body"), schema).as("doc"))
      .select(col("doc.*"))

  /** Oracle-checkable scan THROUGH the document store: the documents
    * table is materialized once per sf dir as a docdir (one JSON file
    * per doc, written distributed via foreachPartition, built once
    * through DerivedCache), then read back through the DSv2
    * source + from_json — so the oracle (`SELECT doc_id, lang,
    * length(text) FROM documents`) proves the store round-trips
    * byte-faithfully, not just that the reader runs. */
  def roundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = bootstrapDocstore(spark, dir)
    val schema = StructType(Seq(
      StructField("doc_id", org.apache.spark.sql.types.LongType),
      StructField("lang", StringType),
      StructField("text", StringType)))
    readCollection(spark, root, "docs", schema)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Write `documents` as a docdir once per documents table
    * (DerivedCache) — each partition's task writes its own files
    * (valid local[*] stand-in for a shared FS). */
  private def bootstrapDocstore(spark: SparkSession, dir: String): String =
    graft.DerivedCache.ensure(spark, "docstore", dir, Seq("documents.parquet")) { root =>
      val collDir = new java.io.File(root, "docs").getAbsolutePath
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(collDir))
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("lang"), col("text"))).as("j"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          // capture the plain string path: task closures serialize
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(collDir, s"doc_${r.getLong(0)}.json"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
    }
}
