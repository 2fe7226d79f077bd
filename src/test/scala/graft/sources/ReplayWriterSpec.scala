package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDir}
import graft.sources.v2.ReplayDataSource

/** The graft-replay DataSourceV2 WRITE path: append/overwrite round-trips
  * through the connector, task-commit file visibility, ts-stat pruning of
  * self-written data, and fail-fast schema validation. */
class ReplayWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A path that does not exist yet, inside a temp directory that is
    * removed after `body`. */
  private def fresh[T](tag: String)(body: String => T): T =
    TempDir(s"graft_v2_write_$tag")(dir => body(s"$dir/data"))

  private def viaConnector(path: String) =
    spark.read.format("graft-replay").option("tsCol", "ts").load(path)

  test("append to a fresh path round-trips all supported types (incl. nulls)") { fresh("roundtrip") { path =>
    import spark.implicits._
    val df = (0L until 2000L).map { i =>
      (i, if (i % 7 == 0) None else Some(i % 2 == 0),
        if (i % 5 == 0) None else Some(i.toInt * 3),
        if (i % 11 == 0) None else Some(s"s$i"),
        if (i % 3 == 0) None else Some(i.toFloat / 7f),
        if (i % 13 == 0) None else Some(i.toDouble / 11d))
    }.toDF("ts", "b", "i", "s", "f", "d")
    df.write.format("graft-replay").mode("append").save(path)
    val back = viaConnector(path).orderBy("ts").collect().toSeq
    assert(back == df.orderBy("ts").collect().toSeq)
    // the built-in parquet reader agrees too (files are plain parquet)
    assert(spark.read.parquet(path).orderBy("ts").collect().toSeq == back)
  }}

  test("each task writes its own file; no in-progress files survive commit") { fresh("tasks") { path =>
    import spark.implicits._
    (0L until 1000L).map(i => (i, s"p$i")).toDF("ts", "v")
      .repartition(4)
      .write.format("graft-replay").mode("append").save(path)
    val files = new java.io.File(path).listFiles().map(_.getName).toSeq
    assert(files.count(_.endsWith(".parquet")) == 4)
    assert(!files.exists(_.contains("inprogress")), files.toString)
  }}

  test("second append adds rows; overwrite truncates to the new data only") { fresh("modes") { path =>
    import spark.implicits._
    (0L until 100L).map(i => (i, i)).toDF("ts", "v")
      .coalesce(1).write.format("graft-replay").mode("append").save(path)
    (100L until 150L).map(i => (i, i)).toDF("ts", "v")
      .coalesce(1).write.format("graft-replay").mode("append").save(path)
    assert(viaConnector(path).count() == 150L)
    (0L until 50L).map(i => (i, -i)).toDF("ts", "v")
      .coalesce(1).write.format("graft-replay").mode("overwrite").save(path)
    assert(viaConnector(path).count() == 50L)
    assert(viaConnector(path).agg(min(col("v"))).collect()(0).getLong(0) == -49L)
  }}

  test("self-written files are immediately prunable by the cursor reader") { fresh("prune") { path =>
    import spark.implicits._
    // three time-sliced appends = three files, disjoint ts ranges
    (0 until 3).foreach { d =>
      (0L until 1000L).map(i => (d * 1000L + i, s"d$d-$i")).toDF("ts", "v")
        .coalesce(1).write.format("graft-replay").mode("append").save(path)
    }
    val idx = ReplayDataSource.index(path)
    assert(idx.groups.length == 3)
    assert(idx.groups.forall(g => g.tsMin.isDefined && g.tsMax.isDefined))
    val sliced = viaConnector(path).where(col("ts") > 1100L && col("ts") <= 1200L)
    assert(sliced.rdd.getNumPartitions == 1) // two of three groups pruned
    assert(sliced.count() == 100L)
  }}

  test("unsupported (nested) write schemas fail fast at planning") { fresh("badschema") { path =>
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, Seq(1f, 2f))).toDF("ts", "emb")
        .write.format("graft-replay").mode("append").save(path)
    }
    assert(e.getMessage.contains("flat primitive schemas"), e.getMessage)
    assert(!new java.io.File(path).exists() ||
      new java.io.File(path).listFiles().forall(!_.getName.endsWith(".parquet")))
  }}

  test("appends re-read only new footers; the index equals a cold rebuild after appends, a delete and a rewrite") {
    fresh("incremental") { path => TempDir("graft_v2_write_cold") { coldRoot =>
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def slice(d: Int, n: Long) =
      (0L until n).map(i => (d * 10000L + i, s"d$d-$i")).toDF("ts", "v").coalesce(1)
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    // a cold build: the same files copied to a directory never indexed
    var colds = 0
    def cold(): ReplayDataSource.PathIndex = {
      colds += 1
      val dir = Paths.get(coldRoot, s"c$colds")
      Files.createDirectories(dir)
      parquetFiles(path).foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
      ReplayDataSource.index(dir.toString)
    }
    def named(idx: ReplayDataSource.PathIndex) =
      idx.groups.toSeq.map(g => g.copy(file = new org.apache.hadoop.fs.Path(g.file).getName))
    def assertCold(idx: ReplayDataSource.PathIndex): Unit = {
      val c = cold()
      assert(idx.schema == c.schema)
      assert(named(idx) == named(c))
    }

    val sink = new graft.replay.ReplayAppendDataSink(path)
    var prev: ReplayDataSource.PathIndex = null
    (0 until 4).foreach { d =>
      sink.append(d.toLong, slice(d, 500L))
      val idx = ReplayDataSource.index(path)
      assert(idx.groups.length == d + 1)
      assertCold(idx)
      // the footers of files already indexed were not read again
      if (prev != null) assert(prev.groups.forall(g => idx.groups.exists(_ eq g)))
      prev = idx
    }

    val files = parquetFiles(path)
    Files.delete(files(1).toPath)
    val afterDelete = ReplayDataSource.index(path)
    assert(afterDelete.groups.length == 3)
    assertCold(afterDelete)
    assert(afterDelete.groups.forall(g => prev.groups.exists(_ eq g)))

    // an in-place rewrite of file 0 with a different length (its local-FS
    // checksum file goes with the old content)
    val other = s"$coldRoot/other"
    slice(9, 800L).write.parquet(other)
    Files.move(parquetFiles(other).head.toPath, files(0).toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.delete(files(0).toPath.resolveSibling(s".${files(0).getName}.crc"))
    val afterRewrite = ReplayDataSource.index(path)
    assertCold(afterRewrite)
    assert(afterRewrite.groups.map(_.rows).sum == 800L + 2 * 500L)
    assert(afterRewrite.groups.count(g => afterDelete.groups.exists(_ eq g)) == 2)
    }}
  }

  test("concurrent appends of different schemas to two paths each round-trip exactly") {
    fresh("concurrent_a") { pathA => fresh("concurrent_b") { pathB =>
    import spark.implicits._
    val a = (0L until 3000L).map(i => (i, s"a$i")).toDF("ts", "s").repartition(4)
    val b = (0L until 3000L).map(i => (i, i * 0.5, i.toInt)).toDF("ts", "d", "i").repartition(4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      Seq(pathA -> a, pathB -> b)
        .map { case (p, df) =>
          pool.submit(new Runnable {
            def run(): Unit = df.write.format("graft-replay").mode("append").save(p)
          })
        }
        .foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(viaConnector(pathA).orderBy("ts").collect().toSeq == a.orderBy("ts").collect().toSeq)
    assert(viaConnector(pathB).orderBy("ts").collect().toSeq == b.orderBy("ts").collect().toSeq)
    }}
  }
}
