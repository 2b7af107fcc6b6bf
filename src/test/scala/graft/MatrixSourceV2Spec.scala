package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import graft.sources.{MatrixIO, MatrixSourceV2}

/** The `graft-matrix` DataSource V2 connector, the engine's one codec
  * of the reference's matrix format: both entry points
  * (`MatrixIO.readMatrix` and `format("graft-matrix")`) against an
  * independent plain-Scala parse, their shared refusals, filter
  * pushdown that PRUNES row partitions (not just reports filters), and
  * column pruning. */
class MatrixSourceV2Spec extends SparkSpec {

  private def v2(name: String) =
    spark.read.format("graft-matrix").load(MatrixIO.resourcePath(name))

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Both entry points' reads of a matrix file. */
  private def reads(path: String): Seq[(String, Set[(Long, Long)])] = Seq(
    "readMatrix" -> edgeSet(MatrixIO.readMatrix(spark, path)),
    "format(graft-matrix)" -> edgeSet(spark.read.format("graft-matrix").load(path)))

  /** The reference parse, kept apart from the connector: split on
    * whitespace, then row-major (i, j) for every cell equal to 1. */
  private def plainParse(text: String): Set[(Long, Long)] = {
    val t = text.trim.split("\\s+")
    val n = t(0).toInt
    (for (i <- 0 until n; j <- 0 until n if BigInt(t(1 + i * n + j)) == 1)
      yield (i.toLong, j.toLong)).toSet
  }

  private def textOf(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  private def tmpWith(content: String): String = {
    val p = java.nio.file.Files.createTempFile("graft-matrix-", ".txt")
    java.nio.file.Files.write(p, content.getBytes)
    p.toFile.deleteOnExit()
    p.toString
  }

  test("both entry points match a plain-Scala parse on every fixture") {
    for (g <- Seq("G1", "G2", "G3", "G5", "G6", "G7")) {
      val path = MatrixIO.resourcePath(s"$g.txt")
      val want = plainParse(textOf(path))
      reads(path).foreach { case (entry, got) => assert(got === want, s"$entry, fixture $g") }
    }
  }

  test("a cell is an edge iff its integer value is 1, on both entry points") {
    val path = tmpWith("3\n01 +1 1\n2 -1 0\n0 00 1\n")
    val want = Set((0L, 0L), (0L, 1L), (0L, 2L), (2L, 2L))
    assert(plainParse(textOf(path)) === want)
    reads(path).foreach { case (entry, got) => assert(got === want, entry) }
  }

  test("seeded random matrices with n in [0, 100] render and read back to their edge sets") {
    val rnd = new scala.util.Random(11L)
    val dir = java.nio.file.Files.createTempDirectory("graft-mxr")
    try (1 to 12).foreach { k =>
      val n = if (k == 1) 0 else if (k == 2) 100 else rnd.nextInt(101)
      val density = rnd.nextDouble()
      val want = (for (i <- 0 until n; j <- 0 until n if rnd.nextDouble() < density)
        yield (i.toLong, j.toLong)).toSet
      val df = edgesDf(want.toSeq: _*)
      val viaIO = dir.resolve(s"io$k.txt").toString
      MatrixIO.writeMatrix(df, n, viaIO)
      val viaV2 = dir.resolve(s"v2$k.txt").toString
      df.write.format("graft-matrix").mode("overwrite").option("n", n).save(viaV2)
      for (path <- Seq(viaIO, viaV2)) {
        assert(MatrixIO.readVertexCount(spark, path) === n, s"#$k n=$n $path")
        assert(plainParse(textOf(path)) === want, s"#$k n=$n $path")
        reads(path).foreach { case (entry, got) =>
          assert(got === want, s"#$k n=$n $entry $path")
        }
      }
    } finally graft.queries.SessionMemo.deleteRecursively(dir)
  }

  test("src range filters are pushed and prune row partitions") {
    val df = v2("G7.txt").where(col("src") >= 4 && col("src") < 6)
    val scan = scanOf(df)
    // pushed: the scan narrowed to rows [4, 6) — fewer partitions than
    // the unfiltered 4, and the description records the range
    assert(scan.scan.description().contains("rows=[4,6)"))
    assert(scan.inputRDD.getNumPartitions <
      scanOf(v2("G7.txt")).inputRDD.getNumPartitions)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((4L, 0L), (4L, 5L), (4L, 6L), (5L, 4L)))
  }

  test("residual dst filter is applied post-scan, src EqualTo prunes to one row") {
    val df = v2("G7.txt").where(col("src") === 4 && col("dst") > 0)
    assert(scanOf(df).scan.description().contains("rows=[4,5)"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((4L, 5L), (4L, 6L)))
  }

  test("column pruning: dst-only projection and pure count") {
    val dst = v2("G7.txt").select("dst")
    assert(scanOf(dst).scan.readSchema().fieldNames.toSeq === Seq("dst"))
    assert(dst.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 0L, 1L, 1L, 2L, 2L, 3L, 4L, 4L, 4L, 5L, 6L))
    assert(v2("G7.txt").count() === 12L)
  }

  test("contradictory pushed range yields an empty scan, not an error") {
    assert(v2("G7.txt").where(col("src") > 5 && col("src") < 3).count() === 0L)
  }

  test("the partitions read option controls planned input splits") {
    def partsOf(n: Int) = scanOf(spark.read.format("graft-matrix")
      .option("partitions", n).load(MatrixIO.resourcePath("G7.txt")))
      .inputRDD.getNumPartitions
    assert(partsOf(2) === 2)
    assert(partsOf(7) === 7)          // G7 has 7 rows — one per split
    assert(partsOf(100) === 7)        // clamped to the row count
    assert(partsOf(0) === 1)          // degenerate values clamp to 1
    // option respected alongside row-range pruning: [4,6) has 2 rows
    val pruned = spark.read.format("graft-matrix").option("partitions", 1)
      .load(MatrixIO.resourcePath("G7.txt"))
      .where(col("src") >= 4 && col("src") < 6)
    assert(scanOf(pruned).inputRDD.getNumPartitions === 1)
    assert(pruned.count() === 4L)
  }

  test("malformed files fail loudly at scan build, not silently mis-parse") {
    // each refuses through both entry points with a message naming the
    // path: readMatrix at the call, the short name at scan build (a
    // truncated matrix would otherwise be re-interpreted row-major
    // against the declared n into a smaller, WRONG graph)
    val malformed = Seq(
      "3\n0 1 0 1 0\n" -> "expected 9 matrix cells",
      "-2\n" -> "non-negative vertex count",
      "two\n0 1\n1 0\n" -> "vertex count 'two' is not an integer",
      "2\n0 1\nx 0\n" -> "cell (1,0) 'x' is not an integer",
      "" -> "vertex count '' is not an integer")
    for ((content, why) <- malformed) {
      val path = tmpWith(content)
      val refusals = Seq(
        "readMatrix" -> intercept[IllegalArgumentException](MatrixIO.readMatrix(spark, path)),
        "readVertexCount" ->
          intercept[IllegalArgumentException](MatrixIO.readVertexCount(spark, path)),
        "format(graft-matrix)" -> intercept[IllegalArgumentException](
          spark.read.format("graft-matrix").load(path).count()))
      refusals.foreach { case (entry, e) =>
        assert(e.getMessage.contains(s"$path: ") && e.getMessage.contains(why),
          s"$entry on ${content.trim}: ${e.getMessage}")
      }
    }
    // n = 0 is a VALID empty graph, not an error
    val empty = tmpWith("0\n")
    assert(reads(empty).map(_._2) === Seq(Set.empty, Set.empty))
    assert(MatrixIO.readVertexCount(spark, empty) === 0)
  }

  private def edgesDf(pairs: (Long, Long)*) = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map(p => Row(p._1, p._2)), 2),
      MatrixSourceV2.schema)
  }

  test("v2 write: overwrite roundtrips through the v2 read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mxw")
    try {
      val p = dir.resolve("g.txt").toString
      val in = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 3L))
      edgesDf(in: _*).write.format("graft-matrix").mode("overwrite").save(p)
      val back = spark.read.format("graft-matrix").load(p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(back === in.toSet)
      // inferred n = maxId + 1
      assert(MatrixIO.readVertexCount(spark, p) === 4)
    } finally graft.queries.SessionMemo.deleteRecursively(dir)
  }

  test("an empty edge set with n = 0 round-trips as an empty graph through both entry points") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mxw")
    try {
      val viaIO = dir.resolve("io.txt").toString
      MatrixIO.writeMatrix(edgesDf(), 0, viaIO)
      val viaV2 = dir.resolve("v2.txt").toString
      edgesDf().write.format("graft-matrix").mode("overwrite").option("n", 0).save(viaV2)
      for (path <- Seq(viaIO, viaV2)) {
        assert(textOf(path) === "0\n", path)
        assert(MatrixIO.readVertexCount(spark, path) === 0, path)
        assert(reads(path).map(_._2) === Seq(Set.empty, Set.empty), path)
      }
      // without an explicit n an empty write has no size to take
      val e = intercept[IllegalArgumentException] {
        edgesDf().write.format("graft-matrix").mode("overwrite").save(dir.resolve("x.txt").toString)
      }
      assert(e.getMessage.contains("no explicit n"))
    } finally graft.queries.SessionMemo.deleteRecursively(dir)
  }

  test("v2 write: append ORs cells into the existing matrix (op=2 modify)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mxw")
    try {
      val p = dir.resolve("g.txt").toString
      edgesDf((0L, 1L), (1L, 2L)).write.format("graft-matrix")
        .mode("overwrite").option("n", 5).save(p)
      // append a delta incl. a duplicate edge — idempotent OR semantics
      edgesDf((1L, 2L), (4L, 0L)).write.format("graft-matrix")
        .mode("append").save(p)
      val back = spark.read.format("graft-matrix").load(p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(back === Set((0L, 1L), (1L, 2L), (4L, 0L)))
      assert(MatrixIO.readVertexCount(spark, p) === 5) // existing n respected
    } finally graft.queries.SessionMemo.deleteRecursively(dir)
  }

  test("v2 write: endpoint outside an explicit n fails loudly, file intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mxw")
    try {
      val p = dir.resolve("g.txt").toString
      edgesDf((0L, 1L)).write.format("graft-matrix").mode("overwrite").save(p)
      val before = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
      val e = intercept[Exception] {
        edgesDf((9L, 0L)).write.format("graft-matrix")
          .mode("overwrite").option("n", 3).save(p)
      }
      assert(e.getMessage.contains("outside [0,3)") ||
        Option(e.getCause).exists(_.getMessage.contains("outside [0,3)")))
      // commit never ran — the previous file is untouched (atomicity)
      val after = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
      assert(after === before)
    } finally graft.queries.SessionMemo.deleteRecursively(dir)
  }
  test("v2 write: an n whose n * n cells pass maxBufferedEdges refuses before rendering, file intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mxw")
    try {
      val p = dir.resolve("g.txt").toString
      edgesDf((0L, 1L)).write.format("graft-matrix").mode("overwrite").save(p)
      val before = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq
      def refused(write: => Unit): Unit = {
        val e = intercept[Exception](write)
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ ne null).toSeq
        assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains(p) && c.getMessage.contains("maxBufferedEdges")), chain)
        assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq === before)
      }
      // sized from the data: one edge makes n = 50001
      refused(edgesDf((50000L, 0L)).write.format("graft-matrix").mode("overwrite").save(p))
      refused(edgesDf((0L, 1L)).write.format("graft-matrix")
        .mode("overwrite").option("n", 1 << 16).save(p))
    } finally graft.queries.SessionMemo.deleteRecursively(dir)
  }
}
