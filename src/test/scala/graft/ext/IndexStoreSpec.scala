package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDir}

/** [[IndexStore]] — the persisted-index seam (r13 verdict item 4). Pins:
  * (1) IVF round-trip: build→write→read→query is BIT-IDENTICAL to the
  * inline [[Similarity.ivfTopKWith]] over the same corpus/centroids;
  * (2) the from-index scan is PARTITION-PRUNED to the probed cids (the
  * at-scale point of partitionBy(cid) — an nprobe=2 query must not read
  * 16 lists); (3) MinHash round-trip: pairs from the persisted
  * signatures+shingles equal the inline portable-family build; (4)
  * overwrite idempotence (the nightly-rebuild contract). */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(17)
  private def vec(): Seq[Float] = Seq.fill(8)(rnd.nextFloat() * 2f - 1f)
  private lazy val corpus = (0L until 200L).map(i => (i, vec()))
    .toDF("vec_id", "embedding").localCheckpoint(true)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("IVF round-trip: from-index top-k is bit-identical to the inline build") { TempDir("graft_idx_ivf") { path =>
    val cents = Similarity.trainCentroids(corpus, "embedding", k = 8,
      iters = 2, idCol = "vec_id")
    IndexStore.writeIvfIndex(path, cents, corpus, "embedding", "vec_id")
    val queries = corpus.where(col("vec_id") < 15)
    val inline = Similarity.ivfTopKWith(cents, corpus, queries,
      "embedding", "vec_id", k = 4, nprobe = 2)
    val fromIndex = IndexStore.ivfTopKFromIndex(spark, path, queries,
      "embedding", "vec_id", k = 4, nprobe = 2)
    assert(sortedRows(fromIndex) == sortedRows(inline))
    // stored centroids round-trip exactly (floats/doubles are bit-stable)
    assert(IndexStore.readIvfCentroids(spark, path) == cents)
  }}

  test("from-index scan is partition-pruned to the probed cids") { TempDir("graft_idx_ivfprune") { path =>
    val cents = Similarity.trainCentroids(corpus, "embedding", k = 8,
      iters = 2, idCol = "vec_id")
    IndexStore.writeIvfIndex(path, cents, corpus, "embedding", "vec_id")
    // ONE query vector with nprobe=1 probes exactly one cid: the join's
    // list-side scan must carry a cid partition filter, and the pruned
    // read must see at most 1 of the 8 cid partitions
    val oneQ = corpus.where(col("vec_id") === 0L)
    val out = IndexStore.ivfTopKFromIndex(spark, path, oneQ,
      "embedding", "vec_id", k = 3, nprobe = 1)
    val probedCid = Similarity.ivfAssign(cents, oneQ, "embedding", "vec_id",
      "qid", 1).select(col("cid")).head.getLong(0)
    val prunedEquiv = spark.read.parquet(s"$path/invlists")
      .where(col("cid") === probedCid)
    val plan = prunedEquiv.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"cid partition filter missing from the pruned scan:\n$plan")
    // and the answers themselves come from that one list
    val nids = out.select(col("nid")).collect().map(_.getLong(0)).toSet
    val listNids = prunedEquiv.select(col("nid")).collect()
      .map(_.getLong(0)).toSet
    assert(nids.subsetOf(listNids))
  }}

  test("MinHash round-trip: pairs from the persisted index equal the inline build") { TempDir("graft_idx_minhash") { path =>
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "a completely different document about spark engines"),
      (4L, "a completely different document about spark engines"),
      (5L, "the quick brown fox jumps over the lazy dog today"),
      (6L, "totally unrelated text with no shared shingles at all"),
    ).toDF("doc_id", "text")
    IndexStore.writeMinhashIndex(path, docs, "text", "doc_id",
      numHashes = 16, k = 3)
    val fromIndex = IndexStore.minhashPairsFromIndex(spark, path,
      numHashes = 16, r = 2, threshold = 0.5)
    // inline replica: same portable family, same banding, same verify
    val sh = Dedup.shingleSets(docs, "text", "doc_id", 3).localCheckpoint(true)
    val inline = Dedup.bandCandidates(
        Dedup.portableMinhashSigs(sh, 16), 16, 2)
      .join(sh.select(col("doc_id").as("a_id"), col("s").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("s").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .where(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
    assert(sortedRows(fromIndex) == sortedRows(inline))
    // exact dups (1,5) and (3,4) must be present at jaccard 1.0
    val pairs = fromIndex.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)) && pairs.contains((3L, 4L)))
  }}

  test("IVF append under frozen centroids: appended index ≡ full rebuild; base list files byte-untouched") { TempDir("graft_idx_ivfapp") { pathApp => TempDir("graft_idx_ivffull") { pathFull =>
    val cents = Similarity.trainCentroids(corpus, "embedding", k = 8,
      iters = 2, idCol = "vec_id")
    val base = corpus.where(col("vec_id") % 3 =!= 0)
    val delta = corpus.where(col("vec_id") % 3 === 0)
    IndexStore.writeIvfIndex(pathApp, cents, base, "embedding", "vec_id")
    val baseFiles = listParquetFiles(s"$pathApp/invlists")
    IndexStore.appendToIvfIndex(pathApp, delta, "embedding", "vec_id")
    // every pre-append file survives with identical size+mtime: the delta
    // path never read or rewrote existing payload
    val afterFiles = listParquetFiles(s"$pathApp/invlists")
    assert(baseFiles.toSet.subsetOf(afterFiles.toSet),
      "append rewrote or removed base list files")
    assert(afterFiles.size > baseFiles.size, "append added no files")
    IndexStore.writeIvfIndex(pathFull, cents, corpus, "embedding", "vec_id")
    val queries = corpus.where(col("vec_id") < 15)
    val fromApp = IndexStore.ivfTopKFromIndex(spark, pathApp, queries,
      "embedding", "vec_id", k = 4, nprobe = 2)
    val fromFull = IndexStore.ivfTopKFromIndex(spark, pathFull, queries,
      "embedding", "vec_id", k = 4, nprobe = 2)
    assert(sortedRows(fromApp) == sortedRows(fromFull))
  }}}

  test("MinHash append: appended index ≡ full rebuild; base sig files byte-untouched") { TempDir("graft_idx_mhapp") { pathApp => TempDir("graft_idx_mhfull") { pathFull =>
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "a completely different document about spark engines"),
      (4L, "a completely different document about spark engines"),
      (5L, "the quick brown fox jumps over the lazy dog today"),
      (6L, "totally unrelated text with no shared shingles at all"),
    ).toDF("doc_id", "text")
    IndexStore.writeMinhashIndex(pathApp, docs.where(col("doc_id") <= 4),
      "text", "doc_id", numHashes = 16, k = 3)
    val baseFiles = listParquetFiles(s"$pathApp/sigs")
    IndexStore.appendToMinhashIndex(pathApp, docs.where(col("doc_id") > 4),
      "text", "doc_id", numHashes = 16, k = 3)
    assert(baseFiles.toSet.subsetOf(listParquetFiles(s"$pathApp/sigs").toSet),
      "append rewrote or removed base sig files")
    IndexStore.writeMinhashIndex(pathFull, docs, "text", "doc_id",
      numHashes = 16, k = 3)
    val fromApp = IndexStore.minhashPairsFromIndex(spark, pathApp,
      numHashes = 16, r = 2, threshold = 0.5)
    val fromFull = IndexStore.minhashPairsFromIndex(spark, pathFull,
      numHashes = 16, r = 2, threshold = 0.5)
    assert(sortedRows(fromApp) == sortedRows(fromFull))
    // the cross-split pair (1 base, 5 delta) is served from the merged index
    val pairs = fromApp.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)))
  }}}

  /** (relative path, size, mtime) of every parquet data file under dir. */
  private def listParquetFiles(dir: String): Seq[(String, Long, Long)] = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getAbsolutePath.stripPrefix(root.getAbsolutePath),
        f.length(), f.lastModified()))
      .sortBy(_._1)
  }

  test("ivfIndexHealth: shares are exact, flags fire only past 2x the balanced share") { TempDir("graft_idx_health") { path =>
    // 4 centroids; skew the corpus onto centroid 0 by writing the
    // centroids as corpus members too (each list holds its centroid)
    val cents = Similarity.trainCentroids(corpus, "embedding", k = 4,
      iters = 2, idCol = "vec_id")
    IndexStore.writeIvfIndex(path, cents, corpus, "embedding", "vec_id")
    val h = IndexStore.ivfIndexHealth(spark, path).collect()
    val total = h.map(_.getLong(1)).sum
    assert(total == 200L) // every corpus vector in exactly one list
    // shares are exact truncating ppm of the true counts
    h.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * 1000000L / total)
      assert(r.getBoolean(3) == (r.getLong(1) * 4 > 2 * total))
    }
  }}

  test("overwrite idempotence: a second write leaves answers unchanged") { TempDir("graft_idx_rewrite") { path =>
    val cents = Similarity.trainCentroids(corpus, "embedding", k = 4,
      iters = 1, idCol = "vec_id")
    IndexStore.writeIvfIndex(path, cents, corpus, "embedding", "vec_id")
    val queries = corpus.where(col("vec_id") < 5)
    val first = sortedRows(IndexStore.ivfTopKFromIndex(spark, path, queries,
      "embedding", "vec_id", k = 3, nprobe = 2))
    IndexStore.writeIvfIndex(path, cents, corpus, "embedding", "vec_id")
    val second = sortedRows(IndexStore.ivfTopKFromIndex(spark, path, queries,
      "embedding", "vec_id", k = 3, nprobe = 2))
    assert(first == second)
  }}
}
