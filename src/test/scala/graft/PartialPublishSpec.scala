package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.sinks.{DeltaSink, HttpObjectStore, IcebergSink}
import org.scalatest.funsuite.AnyFunSuite

/** A write publishes its data files concurrently. When one file's upload
  * fails after others landed, the write must reclaim the landed files,
  * leave no staged multipart parts and no commit, and a retry must commit.
  */
class PartialPublishSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** Four tasks, so four data files. */
  private def frame = spark.range(0, 4000, 1, 4).selectExpr("id", "id * 2.0 as v")

  private def dataFiles(dir: Path): Set[Path] =
    if (!Files.exists(dir)) Set.empty
    else Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains(".mp-uploads"))
      .toSet

  /** Runs `op` against a server that fails every part of the second data
    * file to arrive (so at least the first one lands), checks the abort,
    * then runs `op` again on a healthy server of the same bucket.
    */
  private def failOneFileThenRetry(root: Path, table: Path)(op: HttpObjectStore.Client => Unit)
      (noCommit: () => Unit): Unit = {
    val before = dataFiles(table)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    val failing = new HttpObjectStore.Server(root, partFailure = (key, _) =>
      key.endsWith(".parquet") && seen.synchronized { seen += key; seen.size > 1 && seen.toSeq(1) == key })
    try {
      intercept[java.io.IOException](op(new HttpObjectStore.Client(failing.endpoint, root)))
      assert(seen.size >= 2, "a data file upload was failed after another landed")
      assert(failing.objectDeletes.get() >= 1, "the files that landed were reclaimed")
      assert(dataFiles(table) == before, "no data object of the failed write remains")
      assert(failing.stagedUploads.isEmpty, "no staged multipart parts remain")
      noCommit()
    } finally failing.close()
    val healthy = new HttpObjectStore.Server(root)
    try {
      op(new HttpObjectStore.Client(healthy.endpoint, root))
      assert((dataFiles(table) -- before).size >= 2, "the write published several files")
      assert(healthy.stagedUploads.isEmpty)
    } finally healthy.close()
  }

  test("Delta write: one failed file upload reclaims the landed files, a retry commits") {
    val root = Files.createTempDirectory("graft-partial")
    val table = root.resolve("delta")
    failOneFileThenRetry(root, table) { client =>
      assert(DeltaSink.write(frame, table.toString, store = client))
    } { () => assert(DeltaSink.latestVersion(table.toString) == -1L, "no commit") }
    assert(DeltaSink.read(spark, table.toString).count() == 4000)
  }

  test("Iceberg write: one failed file upload reclaims the landed files, a retry commits") {
    val root = Files.createTempDirectory("graft-partial")
    val table = root.resolve("iceberg")
    failOneFileThenRetry(root, table) { client =>
      IcebergSink.write(frame, table.toString, IcebergSink.CreateExclusive, store = client)
    } { () =>
      assert(!Files.exists(table.resolve("metadata").resolve("version-hint.text")), "no commit")
    }
    assert(IcebergSink.read(spark, table.toString).count() == 4000)
  }

  test("Iceberg branch append: one failed file upload reclaims the landed files, a retry commits") {
    val root = Files.createTempDirectory("graft-partial")
    val table = root.resolve("iceberg-branch")
    val setup = new HttpObjectStore.Server(root)
    try {
      val client = new HttpObjectStore.Client(setup.endpoint, root)
      IcebergSink.write(spark.range(0, 10).selectExpr("id", "id * 2.0 as v"),
        table.toString, IcebergSink.CreateExclusive, store = client)
      IcebergSink.createRef(table.toString, "stage", IcebergSink.snapshots(table.toString).last._1,
        refType = "branch", store = client)
    } finally setup.close()
    val snapshots = IcebergSink.snapshots(table.toString)
    failOneFileThenRetry(root, table) { client =>
      IcebergSink.appendBranch(frame, table.toString, "stage", store = client): Unit
    } { () =>
      assert(IcebergSink.snapshots(table.toString) == snapshots, "no commit")
      assert(IcebergSink.readRef(spark, table.toString, "stage").count() == 10)
    }
    assert(IcebergSink.readRef(spark, table.toString, "stage").count() == 4010)
    assert(IcebergSink.read(spark, table.toString).count() == 10)
  }
}
