package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Adjacency-matrix text source/sink, for fidelity with the reference's
  * on-disk graph format (`secondary_server.c:91-100` read path,
  * `primary_server.c:82-89` write path): first token = vertex count `n`,
  * then `n*n` whitespace-separated ints, row-major; cell `(i,j)==1` means
  * a directed edge `i -> j`.
  *
  * The in-engine representation is a **sparse edge list**
  * `DataFrame(src: Long, dst: Long)` — dense matrices don't survive a
  * 100 TB design point, edge lists do. Every read and write here goes
  * through the `graft-matrix` connector ([[MatrixSourceV2]]), the one
  * code that knows the format, and shares its contract: the file is
  * local (one file = one small graph, n <= 100 per `client.c:11`), and
  * a malformed one refuses with an `IllegalArgumentException` naming
  * the path.
  * Large graphs enter the engine as Parquet edge lists via
  * [[graft.operators.GraphCatalog]].
  */
object MatrixIO {

  // by class, not short name: a classpath without the connector's
  // META-INF/services entry still finds it
  private val format = classOf[MatrixSourceV2].getName

  /** Read a `G<k>.txt`-style adjacency-matrix file into an edge
    * DataFrame. The file is checked here, on the driver and with no
    * Spark job, so a malformed one fails at the call. The scan is one
    * input partition: the graph is small, and a writer of the result
    * then leaves one file. */
  def readMatrix(spark: SparkSession, path: String): DataFrame = {
    MatrixSourceV2.read(path)
    spark.read.format(format).option("partitions", 1).load(path)
  }

  /** Read a bundled reference graph (src/main/resources/graphs/<name>)
    * — the reference's own sample data (`/root/reference/G*.txt`),
    * shipped with the library so its traversal queries run anywhere. */
  def readMatrixResource(spark: SparkSession, name: String): DataFrame =
    readMatrix(spark, resourcePath(name))

  /** Extract a bundled graph resource to a (memoized, exit-reaped)
    * temp file and return its filesystem path: the `graft-matrix`
    * connector reads local files only. */
  def resourcePath(name: String): String =
    resourcePathMemo.computeIfAbsent(name, { n =>
      val in = getClass.getClassLoader.getResourceAsStream(s"graphs/$n")
      require(in != null, s"no bundled graph: $n")
      val tmp = java.nio.file.Files.createTempFile("graft-graph-", ".txt")
      try java.nio.file.Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toFile.deleteOnExit()
      tmp.toString
    })

  private val resourcePathMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Vertex count declared in the file header (needed because isolated
    * vertices carry no edges), of a file that passes the same checks as
    * [[readMatrix]]. */
  def readVertexCount(spark: SparkSession, path: String): Int =
    MatrixSourceV2.read(path).n

  /** Write an edge DataFrame back out in the reference's dense text
    * format, replacing the file atomically. `n` must be non-negative and
    * cover every endpoint of the first two columns, cast to long. Only
    * intended for reference-format interop (n bounded); the engine's
    * native persistence is Parquet. */
  def writeMatrix(edges: DataFrame, n: Int, path: String): Unit =
    edges.select(col(edges.columns(0)).cast("long"), col(edges.columns(1)).cast("long"))
      .write.format(format).mode("overwrite").option("n", n).save(path)
}
