package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 provider for the reference's dense adjacency-matrix
  * text format (`secondary_server.c:91-100` read path,
  * `primary_server.c:82-89` write path), and the one codec of that
  * format in the engine: header token `n`, then `n*n` row-major integer
  * cells; cell `(i,j)` is a directed edge `i -> j` iff it equals 1 (the
  * reference's `%d` read). Every token must parse as an integer and
  * exactly `n*n` cells must follow the header, or the read refuses with
  * an `IllegalArgumentException` naming the path. [[MatrixIO]] reads and
  * writes through this class. Registered as `graft-matrix`
  * (META-INF/services), so `spark.read.format("graft-matrix").load(path)`
  * yields the engine's canonical `(src: Long, dst: Long)` edge schema.
  *
  * The file is local by contract (plain java.nio, n <= 100 per
  * `client.c:11`); data-scale graphs enter as Parquet edge lists via
  * GraphCatalog. The connector plans one `InputPartition` per
  * matrix-row range, accepts `src` range/equality filters and prunes
  * whole row ranges BEFORE any cell is read (`pushedFilters` reports
  * them, so they vanish from post-scan `Filter` nodes), and honours
  * column pruning (`dst`-only projection never materialises `src`
  * values). Each partition re-reads the ~40 KB file.
  */
class MatrixSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-matrix"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MatrixSourceV2.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graft-matrix: a load path is required")
    new MatrixTable(path)
  }
}

object MatrixSourceV2 {
  val schema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** A checked matrix file: `n`, then its `n*n` cells row-major. */
  private[sources] final class Matrix(val n: Int, cells: Array[Int]) {
    def isEdge(i: Long, j: Long): Boolean = cells((i * n + j).toInt) == 1
    def edges: Iterator[(Long, Long)] =
      cells.indices.iterator.filter(cells(_) == 1).map(k => ((k / n).toLong, (k % n).toLong))
  }

  private[sources] def localPath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      if (path.startsWith("file:")) new java.net.URI(path).getPath else path)

  /** Reads and checks a whole matrix file: the header, the shape and
    * every cell. Runs on the driver when a scan is built, so a malformed
    * file refuses before any Spark job. */
  private[sources] def read(path: String): Matrix = {
    val t = new String(java.nio.file.Files.readAllBytes(localPath(path)),
      java.nio.charset.StandardCharsets.UTF_8).trim.split("\\s+")
    def int(k: Int, what: => String): Int = t(k).toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$path: $what '${t(k)}' is not an integer"))
    val n = int(0, "vertex count")
    require(n >= 0, s"$path: first token must be a non-negative vertex count")
    require(t.length == n.toLong * n + 1,
      s"$path: expected ${n.toLong * n} matrix cells for n=$n, found ${t.length - 1}")
    new Matrix(n, Array.tabulate(n * n)(k => int(k + 1, s"cell (${k / n},${k % n})")))
  }
}

private[sources] class MatrixTable(path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-matrix:$path"
  override def schema(): StructType = MatrixSourceV2.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MatrixScanBuilder(path, options.getInt("partitions", 4))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MatrixWriteBuilder(path, info)
}

/** V2 WRITE tier for the same format — the sink counterpart of the
  * scan connector, completing read/write symmetry with the reference's
  * add/modify ops (`primary_server.c:70-99`). The shape is the
  * standard two-phase DSv2 commit: each task buffers its partition's
  * edges (bounded by the reference contract n <= 100 — a guard trips
  * at `maxBufferedEdges` with a scale-pointing error) and ships them
  * as a `WriterCommitMessage`; nothing touches the filesystem until
  * the driver's `commit`, which refuses an `n` whose n * n cells pass
  * the same `maxBufferedEdges` before it renders anything, then
  * assembles the dense matrix and replaces the file ATOMICALLY (temp +
  * ATOMIC_MOVE, the GraphCatalog pointer pattern) — a failed job
  * leaves the previous file intact.
  * `mode("overwrite")` maps to `SupportsTruncate`; `mode("append")`
  * ORs the incoming cells into the existing matrix (reference op=2
  * modify semantics: adding an edge twice is idempotent). */
private[sources] class MatrixWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = new MatrixWrite(path, info, replace)
}

private[sources] class MatrixWrite(path: String, info: LogicalWriteInfo,
                                   replace: Boolean) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft-matrix write $path mode=${if (replace) "overwrite" else "append"}"

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
    val s = info.schema()
    require(s.fields.length == 2 &&
        s.fields.forall(f => f.dataType == LongType || f.dataType == IntegerType),
      s"graft-matrix write expects two integral columns (src, dst), got ${s.simpleString}")
    MatrixWriterFactory(s.fields(0).dataType == LongType,
      s.fields(1).dataType == LongType, maxBufferedEdges)
  }

  /** The edges one task may buffer, and the cells (n * n) one rendered
    * matrix may hold. */
  private def maxBufferedEdges = info.options().getLong("maxBufferedEdges", 1L << 20)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val incoming = messages.iterator.flatMap {
      case MatrixEdgesMessage(flat) => flat.grouped(2).map(p => (p(0), p(1)))
    }.toSet
    val target = MatrixSourceV2.localPath(path)
    val existing =
      if (!replace && java.nio.file.Files.exists(target)) Some(MatrixSourceV2.read(path))
      else None
    val cells = existing.fold(Set.empty[(Long, Long)])(_.edges.toSet) ++ incoming
    // explicit n wins (callers writing a fixed-capacity interop file, an
    // empty graph's n = 0 included); otherwise size to the data. The
    // existing file's n is respected on append.
    val opts = info.options()
    val optN = if (opts.containsKey("n")) Some(opts.getLong("n", 0L)) else None
    require(optN.forall(_ >= 0),
      s"graft-matrix write: the n option must be non-negative, got ${optN.get}")
    require(optN.nonEmpty || existing.nonEmpty || cells.nonEmpty,
      "graft-matrix write: empty input and no explicit n option")
    val maxId = (cells.iterator.flatMap(c => Iterator(c._1, c._2)) ++ Iterator(-1L)).max
    val sized = optN.getOrElse(if (maxId == Long.MaxValue) maxId else maxId + 1)
    val n = math.max(sized, existing.fold(0L)(_.n.toLong))
    // the dense rendering holds n * n cells on the driver: refuse before
    // allocating, on the same envelope as the per-task edge buffer
    if (n > 0 && n > maxBufferedEdges / n)
      throw new IllegalArgumentException(s"graft-matrix write to $path: n = $n " +
        s"needs n * n cells, over maxBufferedEdges = $maxBufferedEdges — the dense " +
        "interop format is for reference-contract graphs (n <= 100)")
    cells.find { case (s, d) => (s min d) < 0 || (s max d) >= n }.foreach { case (s, d) =>
      throw new IllegalArgumentException(s"graft-matrix write: edge ($s,$d) outside " +
        s"[0,$n) — negative ids, or pass a larger n option")
    }
    val sb = new StringBuilder
    sb.append(n).append('\n')
    (0 until n.toInt).foreach { i =>
      sb.append((0 until n.toInt).map(j =>
        if (cells((i.toLong, j.toLong))) "1" else "0").mkString(" ")).append('\n')
    }
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp-" +
      java.util.UUID.randomUUID().toString)
    java.nio.file.Files.write(tmp, sb.toString.getBytes("UTF-8"))
    try java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] case class MatrixEdgesMessage(flat: Array[Long])
    extends WriterCommitMessage

private[sources] case class MatrixWriterFactory(srcLong: Boolean, dstLong: Boolean,
                                                maxEdges: Long)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      override def write(row: InternalRow): Unit = {
        require(buf.length / 2 < maxEdges,
          s"graft-matrix write: task buffered > $maxEdges edges — the dense " +
            "interop format is for reference-contract graphs (n <= 100); " +
            "persist data-scale graphs as Parquet edge lists via GraphCatalog")
        buf += (if (srcLong) row.getLong(0) else row.getInt(0).toLong)
        buf += (if (dstLong) row.getLong(1) else row.getInt(1).toLong)
      }
      override def commit(): WriterCommitMessage = MatrixEdgesMessage(buf.toArray)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}

/** Accepts `src` bounds (their conjunction narrows the scanned row
  * range — matrix row i holds exactly the edges with src == i) and
  * column pruning; everything else is left for Spark's post-scan
  * Filter. */
private[sources] class MatrixScanBuilder(path: String, parts: Int)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private val n = MatrixSourceV2.read(path).n
  private var lo = 0L          // inclusive row bound
  private var hi = n.toLong    // exclusive row bound
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = MatrixSourceV2.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition {
      case EqualTo("src", _: Number) | GreaterThan("src", _: Number) |
           GreaterThanOrEqual("src", _: Number) | LessThan("src", _: Number) |
           LessThanOrEqual("src", _: Number) | IsNotNull("src") | IsNotNull("dst") => true
      case _ => false
    }
    ours.foreach {
      case EqualTo(_, v: Number)            => lo = lo.max(v.longValue()); hi = hi.min(v.longValue() + 1)
      case GreaterThan(_, v: Number)        => lo = lo.max(v.longValue() + 1)
      case GreaterThanOrEqual(_, v: Number) => lo = lo.max(v.longValue())
      case LessThan(_, v: Number)           => hi = hi.min(v.longValue())
      case LessThanOrEqual(_, v: Number)    => hi = hi.min(v.longValue() + 1)
      case IsNotNull(_)                     => () // columns are non-null by schema
      case f => throw new IllegalStateException(s"unreachable: $f")
    }
    accepted = ours
    rest
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Spark may ask for zero columns (pure count) — keep the pruned
    // struct as-is; the reader emits empty rows then.
    required = requiredSchema
  }

  override def build(): Scan =
    new MatrixScan(path, n, lo.max(0), hi.min(n), required, parts)
}

private[sources] class MatrixScan(path: String, n: Int, lo: Long, hi: Long,
                                  required: StructType, parts: Int) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-matrix $path rows=[$lo,$hi) cols=${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val rows = (hi - lo).max(0)
    if (rows == 0) return Array.empty
    // honor the `partitions` read option (default 4) — clamped to the
    // surviving row range so empty splits are never planned
    val nParts = math.min(rows, parts.max(1).toLong).toInt
    val step = (rows + nParts - 1) / nParts
    (0 until nParts).map { i =>
      val s = lo + i * step
      MatrixPartition(path, n, s, (s + step).min(hi)): InputPartition
    }.filter { case MatrixPartition(_, _, s, e) => s < e }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new MatrixReaderFactory(required)
}

private[sources] case class MatrixPartition(path: String, n: Int,
                                            rowStart: Long, rowEnd: Long) extends InputPartition

private[sources] class MatrixReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MatrixPartition]
    new PartitionReader[InternalRow] {
      private val matrix = MatrixSourceV2.read(p.path)
      private var row = p.rowStart
      private var j = -1L
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (row < p.rowEnd) {
          j += 1
          if (j >= p.n) { j = -1L; row += 1 }
          else if (matrix.isEdge(row, j)) {
            val vals = required.fieldNames.map {
              case "src" => row
              case "dst" => j
            }
            current = InternalRow.fromSeq(vals.toIndexedSeq)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
