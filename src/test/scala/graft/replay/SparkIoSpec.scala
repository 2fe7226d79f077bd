package graft.replay

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDir}
import graft.core.Time
import graft.kafka.{JsonSerde, KMessage, TopicPartition}

/** CSV replay source, parquet/CSV sinks, and the JSON wire-format serde. */
class SparkIoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("CSV replay source with explicit schema (replay_concepts.py:78-91)") { TempDir("graft_csv") { tmp =>
    val dir = new java.io.File(tmp)
    val csv = new java.io.File(dir, "input.csv")
    Files.writeString(csv.toPath,
      """timestamp,message
        |2023-01-01 01:00:00,Hello
        |2023-01-01 01:01:00,How are you
        |2023-01-01 02:30:00,Bye
        |""".stripMargin)
    val src = SparkTableDataSource.csv(
      spark, csv.getAbsolutePath, "timestamp TIMESTAMP, message STRING", "timestamp")
    assert(src.getNext == Time.parse("2023-01-01T01:00:00Z"))
    val batch1 = src.readTo(Time.parse("2023-01-01T02:00:00Z"))
    assert(src.length(batch1) == 2)
    assert(batch1.select("message").as[String].collect().toSet == Set("Hello", "How are you"))
    val batch2 = src.readTo(Time.parse("2023-01-01T03:00:00Z"))
    assert(src.length(batch2) == 1)
    assert(src.getNext == Time.UtcMax)
  }}

  test("parquet and csv sinks buffer batches and write once on close") { TempDir("graft_sink") { out =>
    val pq = new SparkParquetDataSink(s"$out/pq")
    pq.append(0L, Seq((1, "a")).toDF("id", "v"))
    pq.append(1L, Seq((2, "b")).toDF("id", "v"))
    pq.close()
    assert(spark.read.parquet(s"$out/pq").count() == 2)

    val csv = new SparkCsvDataSink(s"$out/csv")
    csv.append(0L, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    csv.close()
    assert(spark.read.option("header", "true").csv(s"$out/csv").count() == 2)
  }}

  test("ReplayAppendDataSink: each cycle lands as a prunable slice, crash loses nothing") { TempDir("graft_sink") { out =>
    val path = s"$out/log"
    val sink = new ReplayAppendDataSink(path)
    sink.append(0L, Seq((100L, "a"), (150L, "b")).toDF("ts", "v").coalesce(1))
    // visible BEFORE close — the log shape (a crash here loses nothing)
    assert(spark.read.format("graft-replay").load(path).count() == 2)
    sink.append(1L, Seq((200L, "c")).toDF("ts", "v").coalesce(1))
    sink.close()
    val all = spark.read.format("graft-replay").load(path)
    assert(all.count() == 3)
    // two appends = two files = two row groups, each with ts stats
    val idx = graft.sources.v2.ReplayDataSource.index(path)
    assert(idx.groups.length == 2)
    assert(idx.groups.forall(_.tsMin.isDefined))
    // a slice over the second append's range prunes the first file
    assert(all.where(col("ts") > 150L && col("ts") <= 200L).rdd.getNumPartitions == 1)
  }}

  test("JSON serde round-trip with explicit schema (pyarrow_kafka.py)") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("ticker STRING, price DOUBLE")
    val deser = JsonSerde.deserializer(spark, schema)
    val tp = TopicPartition("prices", 0)
    val batch = deser(Seq(
      KMessage(tp, 0, 0L, null, """{"ticker":"AAPL","price":180.5}""".getBytes),
      KMessage(tp, 1, 0L, null, """{"ticker":"GOOG","price":120.0}""".getBytes)))
    assert(batch.count == 2)
    assert(batch.df.orderBy("ticker").as[(String, Double)].collect().toSeq ==
      Seq(("AAPL", 180.5), ("GOOG", 120.0)))

    val ser = JsonSerde.serializer("out_topic", "ticker")
    val msgs = ser(batch.df.orderBy("ticker"))
    assert(msgs.map(m => new String(m.key, "UTF-8")) == Seq("AAPL", "GOOG"))
    assert(new String(msgs.head.value, "UTF-8") == """{"ticker":"AAPL","price":180.5}""")
    assert(msgs.forall(_.topic == "out_topic"))
  }

  test("driver entry smoke (sf0.001, rows > 0)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
