package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for VCF text (SURVEY.md §2 S3 — the
  * reference wraps an external `VcfTableProvider`; this is the
  * Spark-native equivalent for the text layout `Vep.toVcfLines`
  * writes: CHROM POS ID REF ALT QUAL FILTER INFO, tab-separated,
  * `#`-prefixed headers skipped). Files ending `.gz`/`.bgz` decode
  * through the JDK's GZIPInputStream — BGZF (the container real
  * `.vcf.gz` files ship in) is standards-conformant multi-member
  * gzip, so both bgzipped and plain-gzipped VCFs read directly
  * (gated by `s3_vcf_bgz` against this library's own BGZF writer).
  *
  * Usage: `spark.read.format("graft.sources.VcfDataSource")
  * .option("path", dir).load()`.
  *
  * Scale shape: one input partition per file (a directory written by a
  * 1000-task job reads back 1000-way parallel); `chrom = 'x'`
  * equality filters push into the reader (rows for other contigs are
  * dropped at the line scanner, before row materialization — the
  * analogue of the reference's contig-scoped tabix seeks,
  * lookup_provider.rs:166-173). All other predicates stay in Spark.
  */
class VcfDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = VcfDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new VcfTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

object VcfDataSource {
  val schema: StructType = StructType(Seq(
    StructField("chrom", StringType),
    StructField("start", LongType),
    StructField("id", StringType),
    StructField("ref", StringType),
    StructField("alt", StringType),
    StructField("qual", StringType),
    StructField("filter", StringType),
    StructField("info", StringType)))
}

class VcfTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"vcf($path)"
  override def schema(): StructType = VcfDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VcfScanBuilder(if (path != null) path else options.get("path"))
}

class VcfScanBuilder(path: String) extends ScanBuilder with SupportsPushDownFilters {
  private var chromFilter: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Enforce exactly ONE chrom predicate — an equality or an IN list
    // — at the line scanner and claim only that one as pushed; every
    // other filter, including a second possibly conflicting chrom
    // predicate, stays in the residual so Spark re-applies it
    // (round-2/3 ADVICE: claiming all chrom equalities pushed while
    // enforcing only the first returned chr0 rows for
    // `chrom='chr0' AND chrom='chr1'`).
    val first = filters.collectFirst {
      case f @ EqualTo("chrom", _: String) => f
      case f @ In("chrom", vs) if vs.forall(_.isInstanceOf[String]) => f
    }
    first.foreach {
      case EqualTo(_, v: String) => chromFilter = Some(Set(v))
      case In(_, vs) => chromFilter = Some(vs.map(_.asInstanceOf[String]).toSet)
      case _ =>
    }
    pushed = first.toArray
    filters.filterNot(f => first.contains(f)) // residual Spark must still apply
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new VcfScan(path, chromFilter)
}

/** Java-serializable Hadoop `Configuration` carrier (the `Writable`
  * round-trip Spark's own util uses) so executors read with the
  * SESSION conf — `spark.hadoop.*` credentials, S3/HDFS endpoints —
  * not a default-constructed one. */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Equality: two scans are equal when the path and the pushed chrom
  * filter are — all that decides their rows (the schema is fixed). As
  * for [[BamScan]], this lets ReuseExchange share an exchange between
  * two copies of one read in a plan. */
class VcfScan(path: String, chromFilter: Option[Set[String]]) extends Scan with Batch {
  private def key = (path, chromFilter)
  override def equals(other: Any): Boolean = other match {
    case o: VcfScan => key == o.key
    case _ => false
  }
  override def hashCode(): Int = key.hashCode()
  // resolved at planning time on the driver, where the session is live
  private val hadoopConf = new SerializableHadoopConf(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  override def readSchema(): StructType = VcfDataSource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"VcfScan($path${chromFilter.map(c =>
      if (c.size == 1) s", chrom=${c.head}"
      else s", chrom in ${c.toSeq.sorted.mkString(",")}").getOrElse("")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = FileSystem.get(new java.net.URI(path), hadoopConf.value)
    val stat = fs.globStatus(new Path(path, "*"))
    val files =
      if (stat != null && stat.nonEmpty) stat.toSeq
      else Seq(fs.getFileStatus(new Path(path)))
    files.filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(s => VcfInputPartition(s.getPath.toString): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new VcfReaderFactory(chromFilter, hadoopConf)
}

case class VcfInputPartition(file: String) extends InputPartition

class VcfReaderFactory(chromFilter: Option[Set[String]], hadoopConf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[VcfInputPartition].file
    new PartitionReader[InternalRow] {
      private val fs = FileSystem.get(new java.net.URI(file), hadoopConf.value)
      // .vcf.gz / .bgz: sniff the FEXTRA/BC header — bgzipped
      // (tabix-style) VCFs route through Bgzf.BlockInputStream, which
      // walks BSIZE and CRC-checks every member; GZIPInputStream is
      // kept only for plain gzip, because the JDK decoder silently
      // stops at a member boundary when the underlying stream's
      // available() returns 0 (BGZF is many-member by construction, so
      // that pitfall would truncate rows instead of erroring)
      private val raw: java.io.InputStream = {
        val base = fs.open(new Path(file))
        if (file.endsWith(".gz") || file.endsWith(".bgz")) {
          val buf = new java.io.BufferedInputStream(base, 131072)
          if (Bgzf.sniffBgzf(buf)) new Bgzf.BlockInputStream(buf)
          else new java.util.zip.GZIPInputStream(buf, 65536)
        } else base
      }
      private val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(raw, "UTF-8"))
      private var row: InternalRow = _

      override def next(): Boolean = {
        var line = in.readLine()
        while (line != null) {
          if (!line.startsWith("#")) {
            val p = line.split("\t", -1)
            if (p.length >= 8 && chromFilter.forall(_.contains(p(0)))) {
              row = InternalRow(
                UTF8String.fromString(p(0)), p(1).toLong, UTF8String.fromString(p(2)),
                UTF8String.fromString(p(3)), UTF8String.fromString(p(4)),
                UTF8String.fromString(p(5)), UTF8String.fromString(p(6)),
                UTF8String.fromString(p(7)))
              return true
            }
          }
          line = in.readLine()
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}
