package graft.audit

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Adversarial scale rehearsal: run the full SparkEntry.queries surface
  * under a stress config (shuffle.partitions ≫ cores and/or a constrained
  * heap — both set from the environment) and record per-query
  * shuffle/spill/peak-memory budgets via [[TaskBudgetListener]]. The
  * output behind SCALE.md.
  *
  * Env contract (same family as Bench):
  *   SPARK_GRAFT_SF_DIR              input scale (default sf0.1)
  *   SPARK_GRAFT_CPUS                local[N] threads (default 4)
  *   SPARK_GRAFT_SHUFFLE_PARTITIONS  shuffle partitions (default = CPUS)
  *   SPARK_DRIVER_MEM                JVM heap, consumed by build.sbt fork
  *   SPARK_GRAFT_ONLY                comma substring filter
  *   SPARK_GRAFT_SCALE_OUT           JSON output path (default
  *                                   /tmp/scale_audit.json)
  *
  * One rep per query (budgets, unlike times, are deterministic for a
  * fixed plan — ambient load moves seconds, not bytes; AQE coalescing can
  * move task counts slightly, which is why the asserted ceilings in
  * ScaleBudgetSpec are ceilings, not equalities). */
object ScaleAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shufP = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/scale_audit.json")
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufP)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
    val heap = Runtime.getRuntime.maxMemory()
    System.err.println(s"[scale] sf=$sfDir cpus=$cpus shuffle.partitions=$shufP " +
      f"heap=${heap / 1048576}%dMB queries=${selected.size}%d")
    val rows = selected.flatMap { case (name, fn) =>
      graft.ext.PinnedCache.releaseAll()
      spark.catalog.clearCache()
      try {
        val (sec, b) = TaskBudgetListener.measure(spark) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        System.err.println(f"[scale] $name%-28s ${sec}%6.1fs ${b.pretty}")
        Some(name -> (sec, b))
      } catch { case e: Throwable =>
        System.err.println(s"[scale] $name FAILED: ${e.getMessage}"); None
      }
    }
    def j(name: String, sec: Double, b: BudgetSnapshot): String =
      s"""{"q":"${name.takeWhile(_ != '_')}","sec":${math.round(sec * 1000) / 1000.0},""" +
        s""""jobs":${b.jobs},"tasks":${b.tasks},"input":${b.inputBytes},""" +
        s""""shufR":${b.shuffleReadBytes},"shufW":${b.shuffleWriteBytes},""" +
        s""""spillMem":${b.memorySpillBytes},""" +
        s""""spillDisk":${b.diskSpillBytes},"peakTaskMem":${b.peakExecMem}}"""
    val body = rows.map { case (n, (s, b)) => j(n, s, b) }.mkString("[", ",\n", "]")
    val hdr = s"""{"sf":"$sfDir","cpus":$cpus,"shufflePartitions":$shufP,""" +
      s""""heapBytes":$heap,"failed":${selected.size - rows.size},"queries":\n"""
    Files.writeString(Paths.get(outPath), hdr + body + "}")
    System.err.println(s"[scale] wrote $outPath (${rows.size}/${selected.size} ok)")
    spark.stop()
    if (rows.size != selected.size) sys.exit(1)
  }
}
