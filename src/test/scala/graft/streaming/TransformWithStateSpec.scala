package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.streaming.TransformWithStateOps.{KeyedEvent, SessionResult}

/** transformWithState (Spark 4): keyed state + event-time timers — the
  * TimerManager pattern as a continuous query. */
class TransformWithStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private implicit lazy val sqlCtx: SQLContext = spark.sqlContext

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `body` under the RocksDB state store provider transformWithState
    * requires. */
  private def withRocksDb(body: => Any): Unit = {
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally spark.conf.unset(providerKey)
  }

  /** `out` started with every micro-batch's rows handed to `sink`. */
  private def collect[O](out: Dataset[O], mode: String = "update")(
      sink: Array[O] => Unit): StreamingQuery =
    out.writeStream.outputMode(mode)
      .foreachBatch { (df: Dataset[O], _: Long) => sink(df.collect()) }
      .start()

  /** Runs `body` with `push`, which adds one batch to `input` and waits
    * until `query` has processed it; stops `query` however `body` ends. */
  private def feed[I, T](input: MemoryStream[I], query: StreamingQuery)(
      body: (Seq[I] => Unit) => T): T =
    try body { b => input.addData(b: _*); query.processAllAvailable() }
    finally query.stop()

  test("inactivity sessions fire on event-time timers (E3+E7 via transformWithState)") {
    withRocksDb {
      val input = MemoryStream[(String, Timestamp)]
      val events = input.toDF().toDF("key", "ts")
        .withWatermark("ts", "0 seconds")
        .select(col("key"), (unix_millis(col("ts"))).as("eventTimeMs"))
        .as[KeyedEvent]
      val sessions = TransformWithStateOps.inactivitySessions(events, gapMs = 5000L)
      val query = sessions.writeStream.format("memory").queryName("sessions")
        .outputMode("update").start()
      feed(input, query) { push =>
        def t(ms: Long) = new Timestamp(ms)
        push(Seq(("a", t(1000)), ("a", t(2000))))
        assert(spark.table("sessions").isEmpty) // timer armed at 7000, wm=2000

        push(Seq(("b", t(20000)))) // advances watermark past a's timer
        push(Seq(("c", t(40000)))) // one more batch so wm=20000 applies

        val out = spark.table("sessions").as[SessionResult].collect().toSet
        assert(out.contains(SessionResult("a", 2L, 2000L)))
        assert(!out.exists(_.key == "c")) // c's timer not yet expired
      }
    }
  }

  test("groupTopK: final emission per group equals the batch q61 top-k across batch splits") {
    withRocksDb {
      import TransformWithStateOps.{GroupToken, GroupTopK}
      // two groups with interleaved skewed vocabularies; ties exercised
      val toks: Seq[GroupToken] =
        (0 until 300).map(i => GroupToken("en", s"w${i % (3 + i % 7)}")) ++
          (0 until 200).map(i => GroupToken("fr", s"m${i % 11}"))
      val k = 5

      // latest emission per group, captured batch-by-batch (update mode
      // re-emits a group's full top-k whenever the batch touches it)
      val latest = scala.collection.mutable.Map[String, Seq[GroupTopK]]()
      val input = MemoryStream[GroupToken]
      val query = collect(TransformWithStateOps.groupTopK(input.toDS(), k)) { emitted =>
        emitted.groupBy(_.grp).foreach { case (g, rows) =>
          latest(g) = rows.toSeq.sortBy(_.rk)
        }
      }
      feed(input, query) { push =>
        toks.grouped(120).foreach { b => push(b) }
      }

      // batch reference: q61's exact shape on the same rows
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy(col("grp")).orderBy(col("c").desc, col("w").asc)
      val expected = toks.toDF("grp", "w")
        .groupBy(col("grp"), col("w")).agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(win).cast("long"))
        .where(col("rk") <= k)
        .as[GroupTopK].collect().groupBy(_.grp)
        .map { case (g, rows) => g -> rows.toSeq.sortBy(_.rk) }

      assert(latest.keySet == Set("en", "fr"))
      expected.foreach { case (g, want) => assert(latest(g) == want, s"group $g") }
    }
  }

  test("streamingSimpson: per-group diversity equals the batch operator at EVERY batch prefix") {
    withRocksDb {
      import TransformWithStateOps.{CatEvent, SimpsonReport}
      val rnd = new scala.util.Random(131)
      val rows = Seq.fill(900)(
        CatEvent(s"g${rnd.nextInt(4)}", s"c${rnd.nextInt(6)}"))
      val latest = scala.collection.mutable.Map[String, SimpsonReport]()
      val input = MemoryStream[CatEvent]
      val query = collect(TransformWithStateOps.streamingSimpson(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.grp) = r)
      }
      feed(input, query) { push =>
        var prefix = Seq.empty[CatEvent]
        rows.grouped(250).foreach { b =>
          push(b)
          prefix = prefix ++ b
          val batch = graft.ext.Evaluation.simpsonDiversity(
              prefix.map(e => (e.grp, e.cat)).toDF("g", "c"), "g", "c")
            .collect()
            .map(r => r.getString(0) ->
              SimpsonReport(r.getString(0), r.getLong(1), r.getLong(2),
                r.getLong(3)))
            .toMap
          batch.foreach { case (g, want) =>
            assert(latest(g) == want, s"prefix mismatch group $g")
          }
        }
      }
    }
  }

  test("streamingMcNemar: per-group counts equal the batch operator at every prefix; -1 sentinel until first disagreement") {
    withRocksDb {
      import TransformWithStateOps.{PairedOutcome, McNemarReport}
      val latest = scala.collection.mutable.Map[String, McNemarReport]()
      val input = MemoryStream[PairedOutcome]
      val query = collect(TransformWithStateOps.streamingMcNemar(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.grp) = r)
      }
      feed(input, query) { push =>
        // wave 1: only agreements -> statistic undefined, sentinel -1
        // (the batch operator RAISES here — the stream stays alive)
        push(Seq(PairedOutcome("m", 1, 1), PairedOutcome("m", 0, 0)))
        assert(latest("m") == McNemarReport("m", 2L, 0L, 0L, -1L))
        // waves 2..3: adversarial mixed outcomes; compare each prefix
        // against the batch operator once b + c > 0
        val rnd = new scala.util.Random(41)
        var prefix = Seq((1, 1), (0, 0))
        (1 to 2).foreach { _ =>
          val wave = Seq.fill(200)((rnd.nextInt(2), rnd.nextInt(2)))
          push(wave.map { case (a, b) => PairedOutcome("m", a, b) })
          prefix = prefix ++ wave
          val want = graft.ext.Evaluation.mcnemar(
              prefix.toDF("a_ok", "b_ok"), "a_ok", "b_ok").head
          assert(latest("m") == McNemarReport("m", want.getLong(0),
            want.getLong(1), want.getLong(2), want.getLong(3)))
        }
      }
    }
  }

  test("streamingWilson: per-key bound equals the batch operator at EVERY batch prefix") {
    withRocksDb {
      import TransformWithStateOps.{RateEvent, WilsonReport}
      val rnd = new scala.util.Random(67)
      val rows: Seq[RateEvent] = Seq.fill(900)(
        RateEvent(rnd.nextInt(5).toLong, rnd.nextInt(3) > 0))
      val latest = scala.collection.mutable.Map[Long, WilsonReport]()
      val input = MemoryStream[RateEvent]
      val query = collect(TransformWithStateOps.streamingWilson(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.key) = r)
      }
      feed(input, query) { push =>
        var prefix = Seq.empty[RateEvent]
        rows.grouped(300).foreach { b =>
          push(b)
          prefix = prefix ++ b
          val batch = graft.ext.Evaluation.wilsonLowerBound(
              prefix.map(r => (r.key, if (r.ok) 1L else 0L)).toDF("key", "ok")
                .groupBy(col("key"))
                .agg(count(lit(1)).as("n"), sum(col("ok")).as("p")),
              "n", "p")
            .collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
            .toMap
          batch.foreach { case (k, (n, p, rate, lb)) =>
            assert(latest(k) == WilsonReport(k, n, p, rate, lb), s"prefix mismatch key $k")
          }
        }
      }
    }
  }

  test("streamingBitmapDistinct: running counter equals the batch bitmap at EVERY batch prefix") {
    withRocksDb {
      import TransformWithStateOps.{DistinctCount, GroupId}
      val rnd = new scala.util.Random(59)
      val rows: Seq[GroupId] = Seq.fill(1500)(
        GroupId(s"g${rnd.nextInt(3)}", rnd.nextInt(400).toLong)) ++
        Seq(GroupId("g0", 63L), GroupId("g0", 64L)) // word boundary + sign bit
      val latest = scala.collection.mutable.Map[String, DistinctCount]()
      val input = MemoryStream[GroupId]
      val query = collect(TransformWithStateOps.streamingBitmapDistinct(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.grp) = r)
      }
      feed(input, query) { push =>
        var prefix = Seq.empty[GroupId]
        rows.grouped(400).foreach { b =>
          push(b)
          prefix = prefix ++ b
          // the running counter is the batch readout at EVERY prefix,
          // not only at the end — the online-≡-batch contract
          val batch = graft.ext.Sketches.bitmapDistinct(
              prefix.toDF("g", "id"), "g", col("id"))
            .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          batch.foreach { case (g, (nd, nw)) =>
            assert(latest(g) == DistinctCount(g, nd, nw), s"prefix mismatch for $g")
          }
        }
      }
      // and the final state equals an exact countDistinct
      val want = rows.groupBy(_.grp).map { case (g, xs) =>
        g -> xs.map(_.id).distinct.size.toLong
      }
      want.foreach { case (g, nd) => assert(latest(g).n_distinct == nd, g) }
    }
  }

  test("streamingBloomDedup: repeats always flagged; per-key flag multisets match the seen-set model") {
    withRocksDb {
      import TransformWithStateOps.{SeenFlag, ShardedKey}
      val m = 1 << 16
      val j = 4
      val rnd = new scala.util.Random(41)
      // 3 batches with repeats inside and across batches
      val keys: Seq[String] = Seq.tabulate(300)(_ => s"k${rnd.nextInt(80)}")
      val rows = keys.map(k => ShardedKey(math.abs(k.hashCode) % 4, k))

      // at this load factor the Bloom state must be FP-free: verify with the
      // same bit math the processor uses, so the seen-set model is exact
      val words = new Array[Long](m / 64)
      keys.distinct.foreach { k =>
        val pos = graft.operators.BloomJoin.positionsJvm(k, m, j)
        assert(!pos.forall(p => ((words((p >> 6).toInt) >> (p & 63)) & 1L) == 1L),
          s"false positive for first-sight $k — the seen-set model would not be exact")
        pos.foreach(p => words((p >> 6).toInt) |= 1L << (p & 63))
      }

      val got = scala.collection.mutable.ArrayBuffer[SeenFlag]()
      val input = MemoryStream[ShardedKey]
      val query = collect(TransformWithStateOps.streamingBloomDedup(input.toDS(), m, j)) { emitted =>
        got ++= emitted
      }
      feed(input, query) { push =>
        rows.grouped(100).foreach { b => push(b) }
      }

      // per-key flag multiset: exactly one first-sight false, repeats true
      val gotByKey = got.groupBy(_.key).view
        .mapValues(_.map(_.dup).sorted.toSeq).toMap
      val wantByKey = keys.groupBy(identity).view
        .mapValues(occ => (false +: Seq.fill(occ.size - 1)(true)).sorted).toMap
      assert(gotByKey == wantByKey)
    }
  }

  test("streamingGopherFunnel: final counters equal the batch gopherRules aggregation (real corpus)") {
    withRocksDb {
      import TransformWithStateOps.{FunnelCounts, SourceDoc}
      // REAL driver corpus: any tokenization/rule drift between the JVM
      // mirror and the Column form shows up here
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("source"), col("text"), col("doc_id"))
      val rows = docs.orderBy(col("doc_id")).collect()
        .map(r => SourceDoc(r.getString(0), r.getString(1))).toSeq

      val latest = scala.collection.mutable.Map[String, FunnelCounts]()
      val input = MemoryStream[SourceDoc]
      val query = collect(TransformWithStateOps.streamingGopherFunnel(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.source) = r)
      }
      feed(input, query) { push =>
        rows.grouped(120).foreach { b => push(b) }
      }

      val batch = graft.ext.TextAnalysis.gopherRules(docs, "text", "doc_id")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

      assert(latest.keySet == batch.keySet)
      for ((src, (total, kept)) <- batch)
        assert(latest(src) == FunnelCounts(src, total, total - kept, kept), src)
      // non-degenerate: both outcomes occur somewhere on this corpus
      assert(latest.values.exists(_.dropped > 0) && latest.values.exists(_.kept > 0))
    }
  }

  test("streamingDecontamination: final counters equal the batch evalContamination rollup (real corpus)") {
    withRocksDb {
      import TransformWithStateOps.{ContamCounts, SourceDoc}
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("source"), col("text"), col("doc_id"))
      val evalDocs = docs.where(col("doc_id") % 29 === 0)
      val corpus = docs.where(col("doc_id") % 29 =!= 0)

      // the eval gram model state, built by the BATCH hashing path — any
      // JVM/Column hash drift breaks the per-doc parity assertions below
      val evalGrams = graft.ext.Dedup.hashedShingleSets(evalDocs, "text", "doc_id")
        .select(explode(col("s")).as("g")).distinct()
        .collect().map(_.getLong(0)).toSet

      // JVM mirror == Column path, doc by doc (n_grams AND n_hit)
      val perDoc = graft.ext.Curation
        .evalContamination(corpus, evalDocs, "text", "doc_id")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"))).toMap
      corpus.select(col("doc_id"), col("text")).collect().foreach { r =>
        val jvm = graft.ext.Curation.contaminationJvm(
          r.getString(1), evalGrams, 3, 500000L)
        perDoc.get(r.getLong(0)) match {
          case Some((ng, nh)) =>
            assert(jvm.exists(v => v._1 == ng && v._2 == nh), s"doc ${r.getLong(0)}")
          case None => assert(jvm.isEmpty, s"doc ${r.getLong(0)} out of scope")
        }
      }

      val rows = corpus.orderBy(col("doc_id")).collect()
        .map(r => SourceDoc(r.getString(0), r.getString(1))).toSeq
      val latest = scala.collection.mutable.Map[String, ContamCounts]()
      val input = MemoryStream[SourceDoc]
      val query = collect(TransformWithStateOps.streamingDecontamination(
          input.toDS(), evalGrams)) { emitted =>
        emitted.foreach(r => latest(r.source) = r)
      }
      feed(input, query) { push =>
        rows.grouped(110).foreach { b => push(b) }
      }

      val batch = graft.ext.Curation
        .evalContamination(corpus, evalDocs, "text", "doc_id")
        .join(corpus.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("contaminated"),
          sum(col("n_hit")).as("gram_hits"))
        .collect().map(r => r.getString(0) ->
          ContamCounts(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toMap

      assert(latest.keySet == batch.keySet)
      batch.foreach { case (src, want) => assert(latest(src) == want, src) }
      // non-degenerate: hits exist somewhere on this corpus
      assert(latest.values.map(_.gram_hits).sum > 0)
    }
  }

  test("streamingGridQuantiles: final emission equals batch gridQuantiles across batch splits") {
    withRocksDb {
      import TransformWithStateOps.{GroupValue, QuantileRow}
      val rnd = new scala.util.Random(23)
      val rows: Seq[GroupValue] = Seq.tabulate(900)(i =>
        GroupValue(s"g${i % 3}", rnd.nextDouble() * 300 - 50))
      val percents = Seq(50, 90, 99)

      val latest = scala.collection.mutable.Map[(String, Long), QuantileRow]()
      val input = MemoryStream[GroupValue]
      val query = collect(TransformWithStateOps.streamingGridQuantiles(input.toDS(), 16, percents)) { emitted =>
        emitted.foreach(r => latest((r.grp, r.pct)) = r)
      }
      feed(input, query) { push =>
        rows.grouped(250).foreach { b => push(b) }
      }

      // batch reference: the q103 operator on the same rows
      val batch = graft.ext.Histogram.gridQuantiles(
          rows.toDF("grp", "v"), col("grp"), col("v"), 16, percents)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap

      assert(latest.keySet.map(_._1) == Set("g0", "g1", "g2"))
      for (g <- Seq("g0", "g1", "g2")) {
        val (n, p50, p90, p99) = batch(g)
        assert(latest((g, 50L)) == QuantileRow(g, n, 50L, p50), s"$g p50")
        assert(latest((g, 90L)) == QuantileRow(g, n, 90L, p90), s"$g p90")
        assert(latest((g, 99L)) == QuantileRow(g, n, 99L, p99), s"$g p99")
      }
    }
  }

  test("streamingBoilerplate: MG guarantees hold across batch splits; recount == exact guarantee set") {
    withRocksDb {
      import TransformWithStateOps.BoilerCand
      // planted per-source template phrases over unique filler vocabulary
      val docs: Seq[(String, String)] =
        (0 until 40).map(i => ("en", s"cookie policy accepted u$i v$i")) ++
          (0 until 30).map(i => ("fr", s"offre speciale ici w$i"))
      val k = 8

      val latest = scala.collection.mutable.Map[String, Seq[BoilerCand]]()
      val input = MemoryStream[(String, String)]
      val query = collect(TransformWithStateOps
        .streamingBoilerplate(input.toDF().toDF("source", "text"), "text", "source", 2, k)) { emitted =>
        emitted.groupBy(_.source).foreach { case (s, rows) =>
          latest(s) = rows.toSeq.sortBy(c => (-c.lb, c.gram))
        }
      }
      feed(input, query) { push =>
        docs.grouped(25).foreach { b => push(b) }
      }

      // exact per-source bigram counts (the ground truth MG approximates)
      val exact: Map[String, Map[String, Long]] = docs
        .flatMap { case (s, t) =>
          val w = t.split(" "); w.indices.dropRight(1).map(i => (s, s"${w(i)} ${w(i + 1)}"))
        }
        .groupBy(_._1)
        .map { case (s, gs) =>
          s -> gs.groupBy(_._2).map { case (g, xs) => g -> xs.size.toLong }
        }

      assert(latest.keySet == Set("en", "fr"))
      for (src <- Seq("en", "fr")) {
        val cands = latest(src)
        val counts = exact(src)
        val n = counts.values.sum
        assert(cands.forall(_.n == n), s"$src: running total must equal the gram count")
        assert(cands.size <= k, s"$src: bounded state emits <= k candidates")
        // G1: the emitted counter is a lower bound on the true count
        cands.foreach(c => assert(c.lb <= counts(c.gram), s"$src/${c.gram} overcounts"))
        // G3: every true heavy gram (f*(k+1) > n) is among the candidates
        val guarantee = counts.collect { case (g, c) if c * (k + 1) > n => g }.toSet
        assert(guarantee.nonEmpty && guarantee.subsetOf(cands.map(_.gram).toSet),
          s"$src: guarantee set $guarantee must survive batching")
        // the q98 consumer pattern: exact recount of the <= k candidates + cut
        val recount = cands.map(_.gram).filter(g => counts(g) * (k + 1) > n).toSet
        assert(recount == guarantee, s"$src: recounted candidates == guarantee set")
      }
    }
  }

  test("streamingQualityGate: counters equal the batch linearGate aggregation (real corpus)") {
    withRocksDb {
      import TransformWithStateOps.{FunnelCounts, SourceDoc}
      val weights = Map("fast" -> 3L, "slow" -> -4L, "table" -> 1L,
        "vector" -> 2L, "big" -> -2L, "the" -> 1L)
      val bias = -1L
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("source"), col("text")).as[SourceDoc].collect().toSeq

      val latest = scala.collection.mutable.Map[String, FunnelCounts]()
      val input = MemoryStream[SourceDoc]
      val query = collect(TransformWithStateOps.streamingQualityGate(input.toDS(), weights, bias)) { emitted =>
        emitted.foreach(r => latest(r.source) = r)
      }
      feed(input, query) { push =>
        docs.grouped(docs.length / 3 + 1).foreach { b =>
          push(b)
        }
      }

      // batch reference: the q122 operator (Column-form margins) per source
      val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val batch = graft.ext.Curation.linearGate(d, "text", "doc_id", weights, bias)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(batch.size == 20 && latest.keySet == batch.keySet)
      batch.foreach { case (s, (total, kept)) =>
        assert(latest(s) == FunnelCounts(s, total, total - kept, kept), s)
      }
    }
  }

  test("streamingWeeklyKsDrift: final emission equals batch weeklyKsDrift across batch splits") {
    withRocksDb {
      import TransformWithStateOps.WeeklyDrift
      // real events (ns ts as long) — three types, four weeks of data
      val events = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(col("event_type").as("grp"), col("value").as("v"), col("ts"))
        .as[(String, Double, Long)].collect().toSeq

      val latest = scala.collection.mutable.Map[(String, Long), WeeklyDrift]()
      val input = MemoryStream[(String, Double, Long)]
      val query = collect(TransformWithStateOps.streamingWeeklyKsDrift(
          input.toDF().toDF("grp", "v", "ts"), col("grp"), col("v"), "ts", 16)) { emitted =>
        emitted.foreach(r => latest((r.grp, r.wk)) = r)
      }
      feed(input, query) { push =>
        events.grouped(events.length / 3 + 1).foreach { b =>
          push(b)
        }
      }

      val batch = graft.ext.Histogram.weeklyKsDrift(
          graft.replay.TsNanos.normalize(
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")),
          col("event_type"), col("value"), "ts", 16)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          WeeklyDrift(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getDouble(5))).toMap
      assert(batch.nonEmpty && latest.keySet == batch.keySet)
      batch.foreach { case (k, want) => assert(latest(k) == want, s"pair $k") }
    }
  }

  test("streamingMixturePlan: final emission equals batch mixturePlanFromCounts across splits") {
    withRocksDb {
      import TransformWithStateOps.{MixtureRow, SourceTokens}
      val weights = (0 until 20).map(i =>
        s"src$i" -> (if (i < 5) 120000L else 26666L)).toMap
      val budget = 20000L
      // real per-doc exact wordpiece counts as the stream
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val counts = docs.select(col("doc_id"), col("source"))
        .join(graft.ext.Tokenize.wordpieceCounts(spark, docs, "text", "doc_id")
          .toDF().select(col("doc_id"), col("n_subwords").as("n_tok")), "doc_id")
        .select(col("source"), col("n_tok")).as[SourceTokens].collect().toSeq

      val latest = scala.collection.mutable.Map[String, MixtureRow]()
      val input = MemoryStream[SourceTokens]
      val query = collect(TransformWithStateOps.streamingMixturePlan(input.toDS(), budget, weights)) { emitted =>
        emitted.foreach(r => latest(r.source) = r)
      }
      feed(input, query) { push =>
        counts.grouped(counts.length / 4 + 1).foreach { b =>
          push(b)
        }
      }

      val batch = graft.ext.Sampling.mixturePlanFromCounts(
          counts.toDF("source", "n_tok"), budget, weights)
        .collect().map(r => r.getString(0) ->
          MixtureRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7))).toMap
      assert(batch.size == 20 && latest.keySet == batch.keySet)
      batch.foreach { case (s, want) => assert(latest(s) == want, s"source $s") }
    }
  }

  test("spanNovelty: streamed first-occurrence counts reconcile with batch q129 " +
      "across prefix splits, order-scrambled within batches") {
    withRocksDb {
      val rnd = new scala.util.Random(23)
      val vocab = Vector.tabulate(12)(i => s"w$i")
      val base = Seq.tabulate(5)(_ => Seq.fill(6 + rnd.nextInt(6))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val docs: Seq[(Long, String)] = Seq.tabulate(90) { i =>
        val txt =
          if (i % 3 == 0) base(rnd.nextInt(base.size))
          else Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (i.toLong, txt)
      }

      val input = MemoryStream[(Long, String)]
      val stream = TransformWithStateOps.streamingSpanNovelty(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", k = 3)
      val query = stream.writeStream.format("memory").queryName("span_novelty")
        .outputMode("update").start()
      feed(input, query) { push =>
        // prefix splits (cross-batch doc order preserved), scrambled inside
        docs.grouped(25).foreach { b =>
          push(rnd.shuffle(b))
        }
      }

      val streamed = spark.table("span_novelty")
        .groupBy(col("docId")).agg(
          count(lit(1)).as("n"), sum(col("novel").cast("long")).as("novel"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batch = graft.ext.Dedup.spanNoveltyProfile(
          docs.toDF("doc_id", "text"), "text", "doc_id", k = 3)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // batch zero-fills docs with no spans; the stream never sees them
      batch.filter(_._2._1 > 0).foreach { case (id, want) =>
        assert(streamed(id) == want, s"doc $id")
      }
      assert(streamed.keySet == batch.filter(_._2._1 > 0).keySet)
    }
  }

  test("funnel: final streamed state reconciles with batch q131 on the real events table") {
    import TransformWithStateOps.{UserEvent, FunnelState}
    withRocksDb {
      val w = 21600000000000L
      val events = graft.queries.QueryDef.tbl(spark, "/root/testdata/sf0.001", "events")
      val rows = events.select(col("user_id"), col("event_type"), col("ts"))
        .collect().map(r => UserEvent(r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_.ts) // global ts order => per-user ts order in every split

      val latest = scala.collection.mutable.Map[Long, FunnelState]()
      val input = MemoryStream[UserEvent]
      val query = collect(TransformWithStateOps.streamingFunnel(input.toDS(), "signup", "purchase", w)) { emitted =>
        emitted.foreach(r => latest(r.userId) = r)
      }
      feed(input, query) { push =>
        rows.grouped(rows.length / 5 + 1).foreach { b =>
          push(b.toSeq)
        }
      }

      val batch = graft.ext.EventFunnel.conversionFunnel(events, "signup", "purchase", w)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      assert(latest.keySet == batch.keySet, "every anchored user emitted")
      batch.foreach { case (u, (sTs, conv, ttc)) =>
        assert(latest(u) == FunnelState(u, sTs, conv, ttc), s"user $u")
      }
    }
  }

  test("streamingHllDistinct: final emission bit-matches batch q133 across batch splits") {
    withRocksDb {
      import TransformWithStateOps.{GroupHash, HllReport}
      import spark.implicits._
      // 'big' lands in the raw regime (est_distinct set), 'tiny' below it (NULL)
      val items = (0 until 6000).map(i => ("big", s"d-${i % 2000}")) ++
        (0 until 30).map(i => ("tiny", s"t-${i % 9}"))
      val hashed = items.toDF("grp", "v")
        .select(col("grp"), graft.ext.Sampling.portableHash(col("v")).as("h"))
        .as[GroupHash].collect().toSeq

      val latest = scala.collection.mutable.Map[String, HllReport]()
      val input = MemoryStream[GroupHash]
      val query = collect(TransformWithStateOps.streamingHllDistinct(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.grp) = r)
      }
      feed(input, query) { push =>
        // scrambled order + uneven splits: register max is order-independent
        scala.util.Random.shuffle(hashed).grouped(1700).foreach { b =>
          push(b)
        }
      }

      val batch = graft.ext.Sketches.hllDistinct(items.toDF("grp", "v"), "grp", col("v"))
        .where(col("grp") =!= "__all__")
        .collect().map(r => r.getString(0) -> r).toMap
      assert(latest.keySet == Set("big", "tiny"))
      for (g <- Seq("big", "tiny")) {
        val b = batch(g)
        assert(latest(g).v_zero == b.getAs[Long]("v_zero"), s"$g v_zero")
        assert(latest(g).s_sum == b.getAs[Long]("s_sum"), s"$g s_sum")
        assert(latest(g).raw_est == b.getAs[Double]("raw_est"), s"$g raw_est")
        val bEst = if (b.isNullAt(b.fieldIndex("est_distinct"))) None
          else Some(b.getAs[Double]("est_distinct"))
        assert(latest(g).est_distinct == bEst, s"$g est_distinct")
      }
      assert(latest("big").est_distinct.isDefined && latest("tiny").est_distinct.isEmpty)
    }
  }

  test("streamingScdIntervals: reconciled runs equal batch scdIntervals across batch splits (real corpus)") {
    withRocksDb {
      import TransformWithStateOps.{ScdRow, TimedEvent}
      val events = graft.queries.QueryDef.tbl(spark, "/root/testdata/sf0.001", "events")
      // global ts order preserves each user's (ts, event_id) order — the
      // replay/Kafka priming contract the twin assumes
      val rows = events.orderBy(col("ts"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .collect()
        .map(r => TimedEvent(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq

      // upsert by (user_id, valid_from): closed rows supersede their
      // earlier open emissions; open runs keep their latest growth
      val latest = scala.collection.mutable.Map[(Long, Long), ScdRow]()
      val input = MemoryStream[TimedEvent]
      val query = collect(TransformWithStateOps.streamingScdIntervals(input.toDS())) { emitted =>
        emitted.foreach(r => latest((r.user_id, r.valid_from)) = r)
      }
      feed(input, query) { push =>
        rows.grouped(217).foreach { b => push(b) }
      }

      val batch = graft.ext.EventFunnel.scdIntervals(events)
        .collect()
        .map { r =>
          ScdRow(r.getLong(0), r.getString(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            r.getLong(4), r.getBoolean(5))
        }
        .map(r => (r.user_id, r.valid_from) -> r).toMap

      assert(latest.size == batch.size, "run counts differ")
      batch.foreach { case (k, want) => assert(latest(k) == want, s"run $k") }
      // non-degenerate: closed and open runs both occur
      assert(latest.values.exists(!_.is_current) && latest.values.exists(_.is_current))
    }
  }

  test("streamingHourlyBursts: reconciled rows equal batch hourlyBursts across batch splits") {
    withRocksDb {
      import TransformWithStateOps.{BurstRow, TypedHour}
      val epoch = 1704067200000000000L
      val events = graft.queries.QueryDef.tbl(spark, "/root/testdata/sf0.001", "events")
      val rows = events.orderBy(col("ts"), col("event_id"))
        .select(col("event_type"), expr(s"(ts - ${epoch}L) div 3600000000000L").as("hr"))
        .collect().map(r => TypedHour(r.getString(0), r.getLong(1))).toSeq

      val latest = scala.collection.mutable.Map[(String, Long), BurstRow]()
      val input = MemoryStream[TypedHour]
      val query = collect(TransformWithStateOps.streamingHourlyBursts(input.toDS(), factor = 3)) { emitted =>
        emitted.foreach(r => latest((r.event_type, r.hr)) = r)
      }
      feed(input, query) { push =>
        rows.grouped(311).foreach { b => push(b) }
      }

      val batch = graft.ext.EventFunnel.hourlyBursts(events, epoch, factor = 3)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          BurstRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toMap
      assert(latest.size == batch.size, "(type, hour) row counts differ")
      batch.foreach { case (k, want) => assert(latest(k) == want, s"row $k") }
      assert(latest.values.exists(_.burst) || !batch.values.exists(_.burst))
    }
  }

  test("streamingPathInstances: emitted path multiset equals the batch lead-window n-grams") {
    withRocksDb {
      import TransformWithStateOps.{PathInstance, TimedEvent}
      val events = graft.queries.QueryDef.tbl(spark, "/root/testdata/sf0.001", "events")
      val rows = events.orderBy(col("ts"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .collect()
        .map(r => TimedEvent(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq

      val got = scala.collection.mutable.ArrayBuffer[PathInstance]()
      val input = MemoryStream[TimedEvent]
      val query = collect(TransformWithStateOps.streamingPathInstances(input.toDS(), n = 3), "append") { emitted =>
        got ++= emitted
      }
      feed(input, query) { push =>
        rows.grouped(271).foreach { b => push(b) }
      }

      val batchPaths = graft.ext.EventFunnel.pathCounts(events, n = 3, topK = Int.MaxValue)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val gotCounts = got.groupBy(_.path).view.mapValues(_.size.toLong).toMap
      assert(gotCounts == batchPaths, "path multisets diverge")
      assert(gotCounts.values.sum > 900, "non-degenerate corpus")
    }
  }

  test("streamingVocabKlDrift: every emission equals batch vocabKlDrift over rows seen so far") {
    withRocksDb {
      import TransformWithStateOps.KlDriftRow
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("source"), col("text"))
        .as[(String, String)].collect().toSeq

      val latest = scala.collection.mutable.Map[String, KlDriftRow]()
      val input = MemoryStream[(String, String)]
      val query = collect(TransformWithStateOps.streamingVocabKlDrift(
          input.toDF().toDF("source", "text"), "text", "source")) { emitted =>
        emitted.foreach(r => latest(r.source) = r)
      }
      val waves = docs.grouped(docs.length / 3 + 1).toSeq
      feed(input, query) { push =>
        var seen = Seq.empty[(String, String)]
        waves.foreach { b =>
          push(b)
          seen = seen ++ b
          // reconcile MID-STREAM too: the rest margin and vocab are global,
          // so every prefix must match its batch run exactly
          val batch = graft.ext.TextAnalysis.vocabKlDrift(
              seen.toDF("source", "text"), "text", "source")
            .collect().map(r => r.getString(0) -> KlDriftRow(r.getString(0),
              r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
          assert(batch.nonEmpty && latest.toMap == batch, s"after ${seen.size} docs")
        }
      }
    }
  }

  test("streamingAlphaMixturePlan: host-keyed emissions equal batch alphaMixturePlan (q162)") {
    withRocksDb {
      import TransformWithStateOps.{AlphaMixtureRow, SourceTokens}
      val budget = 15000L
      // the q162 derivation exactly: canonicalized host + whitespace tokens
      val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val perDoc = d.select(
          graft.ext.Web.hostOf(graft.ext.Web.fixtureUrl(
            col("doc_id"), col("source"), col("lang"))).as("source"),
          graft.ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
        .as[SourceTokens].collect().toSeq

      val latest = scala.collection.mutable.Map[String, AlphaMixtureRow]()
      val input = MemoryStream[SourceTokens]
      val query = collect(TransformWithStateOps.streamingAlphaMixturePlan(input.toDS(), budget)) { emitted =>
        emitted.foreach(r => latest(r.source) = r)
      }
      feed(input, query) { push =>
        perDoc.grouped(perDoc.length / 4 + 1).foreach { b =>
          push(b)
        }
      }

      val withHost = d.select(col("text"),
        graft.ext.Web.hostOf(graft.ext.Web.fixtureUrl(
          col("doc_id"), col("source"), col("lang"))).as("host"))
      val batch = graft.ext.Sampling.alphaMixturePlan(withHost, "text", "host", budget)
        .collect().map(r => r.getString(0) -> AlphaMixtureRow(r.getString(0),
          r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getBoolean(8))).toMap
      assert(batch.nonEmpty && latest.keySet == batch.keySet)
      batch.foreach { case (h, want) => assert(latest(h) == want, s"host $h") }
    }
  }

  test("streamingEwmaBursts: upsert-by-(type, wk) equals batch ewmaBursts across splits") {
    withRocksDb {
      import TransformWithStateOps.{EwmaRow, TypedWeek}
      val weekNs = 604800000000000L
      // event-time-ordered arrival (the priming contract)
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(col("event_type"), expr(s"ts div ${weekNs}L").as("wk"))
        .orderBy(col("wk"))
        .as[(String, Long)].collect().toSeq.map(t => TypedWeek(t._1, t._2))

      val latest = scala.collection.mutable.Map[(String, Long), EwmaRow]()
      val input = MemoryStream[TypedWeek]
      val query = collect(TransformWithStateOps.streamingEwmaBursts(input.toDS(), factor = 2)) { emitted =>
        emitted.foreach(r => latest((r.event_type, r.wk)) = r)
      }
      feed(input, query) { push =>
        // deliberately NOT week-aligned splits: provisional rows for the
        // open week must be superseded by its final emission
        rows.grouped(rows.length / 5 + 1).foreach { b =>
          push(b)
        }
      }

      val batch = graft.ext.EventFunnel.ewmaBursts(
          graft.replay.TsNanos.normalize(
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")), factor = 2)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          EwmaRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getBoolean(4))).toMap
      assert(batch.nonEmpty && latest.keySet == batch.keySet)
      batch.foreach { case (k, want) => assert(latest(k) == want, s"row $k") }
    }
  }

  test("streamingLatenessAudit: per-type rollup equals batch latenessAudit across splits") {
    withRocksDb {
      import TransformWithStateOps.{ArrivalEvent, LatenessRow}
      // arrival order = event_id (the batch window's ORDER BY)
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(col("event_type"), col("event_id"), col("ts"))
        .orderBy(col("event_id"))
        .as[(String, Long, Long)].collect().toSeq
        .map(t => ArrivalEvent(t._1, t._2, t._3))

      val latest = scala.collection.mutable.Map[String, LatenessRow]()
      val input = MemoryStream[ArrivalEvent]
      val query = collect(TransformWithStateOps.streamingLatenessAudit(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.event_type) = r)
      }
      feed(input, query) { push =>
        rows.grouped(rows.length / 7 + 1).foreach { b =>
          push(b)
        }
      }

      val batch = graft.ext.EventFunnel.latenessAudit(
          graft.replay.TsNanos.normalize(
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")))
        .collect().map(r => r.getString(0) ->
          LatenessRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toMap
      assert(batch.nonEmpty && latest.keySet == batch.keySet)
      batch.foreach { case (k, want) => assert(latest(k) == want, s"type $k") }
    }
  }

  test("streamingDebounce: per-type sums of the latest (user,type) rows equal batch q204") {
    withRocksDb {
      import TransformWithStateOps.{DebounceRow, KeyedArrival}
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .orderBy(col("ts"), col("event_id"))
        .as[(Long, String, Long, Long)].collect().toSeq
        .map(t => KeyedArrival(t._1, t._2, t._3, t._4))

      val latest = scala.collection.mutable.Map[(Long, String), DebounceRow]()
      val input = MemoryStream[KeyedArrival]
      val query = collect(TransformWithStateOps.streamingDebounce(input.toDS(), 60000000000L)) { emitted =>
        emitted.foreach(r => latest((r.user_id, r.event_type)) = r)
      }
      feed(input, query) { push =>
        rows.grouped(rows.length / 5 + 1).foreach { b =>
          push(b)
        }
      }

      val got = latest.values.groupBy(_.event_type).map { case (t, rs) =>
        t -> ((rs.map(_.n_events).sum, rs.map(_.n_kept).sum, rs.map(_.n_dropped).sum))
      }
      val batch = graft.SparkEntry.queries("q204_debounce")(
          spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(batch.nonEmpty && got.keySet == batch.keySet)
      batch.foreach { case (t, want) => assert(got(t) == want, s"type $t") }
    }
  }

  test("streamingGrowthEvents: classification rollup equals batch q198 flows") {
    withRocksDb {
      import TransformWithStateOps.{GrowthEvent, UserWeek}
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
        .orderBy(col("wk"))
        .as[(Long, Long)].collect().toSeq.map(t => UserWeek(t._1, t._2))

      val events = scala.collection.mutable.ArrayBuffer[GrowthEvent]()
      val input = MemoryStream[UserWeek]
      val query = collect(TransformWithStateOps.streamingGrowthEvents(input.toDS()), "append") { emitted =>
        events ++= emitted
      }
      feed(input, query) { push =>
        rows.grouped(rows.length / 6 + 1).foreach { b =>
          push(b)
        }
      }

      // append semantics: each (user, wk) classified exactly once
      assert(events.map(e => (e.user_id, e.wk)).distinct.size == events.size)
      val got = events.groupBy(_.wk).map { case (wk, es) =>
        wk -> ((es.size.toLong,
          es.count(_.cls == "new").toLong,
          es.count(_.cls == "retained").toLong,
          es.count(_.cls == "resurrected").toLong))
      }
      val batch = graft.SparkEntry.queries("q198_growth_accounting")(
          spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(batch.nonEmpty && got.keySet == batch.keySet)
      batch.foreach { case (wk, want) => assert(got(wk) == want, s"week $wk") }
    }
  }

  test("streamingCard: per-source card rows equal the batch q236 card across splits") {
    withRocksDb {
      import TransformWithStateOps.{CardRow, DocMeta}
      val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          col("n_chars"))
        .as[(String, String, Long, Long)].collect().toSeq
        .map(t => DocMeta(t._1, t._2, t._3, t._4))

      val latest = scala.collection.mutable.Map[String, CardRow]()
      val input = MemoryStream[DocMeta]
      val query = collect(TransformWithStateOps.streamingCard(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.source) = r)
      }
      feed(input, query) { push =>
        scala.util.Random.shuffle(rows).grouped(rows.length / 5 + 1).foreach { b =>
          push(b)
        }
      }

      val batch = graft.SparkEntry.queries("q236_dag_card")(
          spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getString(0) ->
          CardRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getString(5), r.getLong(6), r.getLong(7))).toMap
      assert(batch.nonEmpty && latest.keySet == batch.keySet)
      batch.foreach { case (k, want) => assert(latest(k) == want, s"source $k") }
    }
  }

  test("streamingSlidingHll: upsert-by-(grp, wk) sketch equals batch slidingHllDistinct") {
    withRocksDb {
      import TransformWithStateOps.{SlidingHllRow, WeekHash}
      val weekNs = 604800000000000L
      // event-time-ordered arrival (the priming contract); splits are
      // deliberately NOT week-aligned
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(col("event_type"), expr(s"ts div ${weekNs}L").as("wk"),
          graft.ext.Sampling.portableHash(col("user_id")).as("h"))
        .orderBy(col("wk"))
        .as[(String, Long, Long)].collect().toSeq
        .map(t => WeekHash(t._1, t._2, t._3))

      val latest = scala.collection.mutable.Map[(String, Long), SlidingHllRow]()
      val input = MemoryStream[WeekHash]
      val query = collect(TransformWithStateOps.streamingSlidingHll(input.toDS(), 4)) { emitted =>
        emitted.foreach(r => latest((r.grp, r.wk)) = r)
      }
      feed(input, query) { push =>
        rows.grouped(rows.length / 6 + 1).foreach { b =>
          push(b)
        }
      }

      val batch = graft.ext.Sketches.slidingHllDistinct(
          graft.replay.TsNanos.normalize(
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")),
          "event_type", col("user_id"), "ts", windowWeeks = 4)
        .collect().map { r =>
          val est = if (r.isNullAt(r.fieldIndex("est_distinct"))) None
            else Some(r.getAs[Double]("est_distinct"))
          (r.getString(0), r.getLong(1)) -> SlidingHllRow(r.getString(0),
            r.getLong(1), r.getLong(2), r.getLong(3),
            r.getAs[Double]("raw_est"), est)
        }.toMap
      assert(batch.nonEmpty && latest.keySet == batch.keySet)
      batch.foreach { case (k, want) => assert(latest(k) == want, s"row $k") }
    }
  }

  test("streamingSloBurnRate: upsert-by-hr rows equal the batch q251 monitor, mid-stream and final") {
    withRocksDb {
      import TransformWithStateOps.{HourErr, SloBurnRow}
      val epochNs = 1704067200000000000L
      // event-time-ordered arrival (the priming contract); splits are
      // deliberately NOT hour-aligned so state carries mid-hour counts
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(expr(s"((ts - ${epochNs}L) - pmod(ts - ${epochNs}L, 3600000000000L))" +
            " div 3600000000000L").as("hr"),
          (col("event_type") === "error").cast("long").as("e"))
        .orderBy(col("hr"))
        .as[(Long, Long)].collect().toSeq
        .map(t => HourErr(t._1, t._2))

      def reference(seq: Seq[HourErr]): Map[Long, SloBurnRow] = {
        val byHr = seq.groupBy(_.hr).map { case (h, es) =>
          h -> ((es.map(_.e).sum, es.size.toLong))
        }
        byHr.map { case (h, (err, tot)) =>
          def win(w: Int) = {
            val in = byHr.filter { case (h2, _) => h2 <= h && h2 > h - w }
            (in.valuesIterator.map(_._1).sum, in.valuesIterator.map(_._2).sum)
          }
          val (es, ts) = win(6); val (el, tl) = win(24)
          val shareS = es * 1000000L / ts; val shareL = el * 1000000L / tl
          val burnS = shareS * 100L / 200000L; val burnL = shareL * 100L / 200000L
          h -> SloBurnRow(h, err, tot, shareS, shareL, burnS, burnL,
            burnS >= 110L && burnL >= 103L)
        }
      }

      val latest = scala.collection.mutable.Map[Long, SloBurnRow]()
      val input = MemoryStream[HourErr]
      val query = collect(TransformWithStateOps.streamingSloBurnRate(input.toDS(),
          budgetPpm = 200000L, shortW = 6, longW = 24,
          fastCenti = 110L, slowCenti = 103L)) { emitted =>
        emitted.foreach(r => latest(r.hr) = r)
      }
      feed(input, query) { push =>
        var fed = Seq.empty[HourErr]
        var checkedMid = false
        rows.grouped(rows.length / 7 + 1).foreach { b =>
          push(b)
          fed = fed ++ b
          // MID-stream parity: the upsert view must equal the batch
          // operator over rows seen so far (the vocab-KL discipline)
          if (!checkedMid && fed.length >= rows.length / 2) {
            val want = reference(fed)
            assert(want.nonEmpty && latest.toMap == want, "mid-stream parity")
            checkedMid = true
          }
        }
      }

      // final parity against the DRIVER-GATED batch query itself
      val batch = graft.SparkEntry.queries("q251_slo_burn_rate")(
          spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getLong(0) -> SloBurnRow(r.getLong(0),
          r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getBoolean(7))).toMap
      assert(batch.nonEmpty && latest.toMap == batch)
      assert(latest.valuesIterator.exists(_.alert) ||
        latest.valuesIterator.forall(!_.alert)) // shape sanity only
    }
  }

  test("streamingAaTest: upsert-by-day rows equal the batch q280 monitor, mid-stream and final") {
    withRocksDb {
      import TransformWithStateOps.{AaEvent, AaRow}
      import graft.ext.Evaluation.z2PpmJvm
      // same assignment/classification columns as q280, arbitrary arrival
      // order (days are independent; splits deliberately cross days)
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(expr("ts div 86400000000000").as("day"),
          pmod(graft.ext.Sampling.portableHash(col("user_id")), lit(2))
            .cast("long").as("arm"),
          (col("event_type") === "purchase").cast("long").as("conv"))
        .as[(Long, Long, Long)].collect().toSeq
        .map(t => AaEvent(t._1, t._2, t._3))

      def reference(seq: Seq[AaEvent]): Map[Long, AaRow] =
        seq.groupBy(_.day).map { case (d, es) =>
          val n1 = es.count(_.arm == 0L).toLong
          val c1 = es.filter(_.arm == 0L).map(_.conv).sum
          val n2 = es.count(_.arm == 1L).toLong
          val c2 = es.filter(_.arm == 1L).map(_.conv).sum
          val z2 = z2PpmJvm(n1, c1, n2, c2)
          d -> AaRow(d, n1, c1, n2, c2, z2, z2.exists(_ > 4000000L))
        }

      val latest = scala.collection.mutable.Map[Long, AaRow]()
      val input = MemoryStream[AaEvent]
      val query = collect(TransformWithStateOps.streamingAaTest(input.toDS(), 4000000L)) { emitted =>
        emitted.foreach(r => latest(r.day) = r)
      }
      feed(input, query) { push =>
        var fed = Seq.empty[AaEvent]
        var checkedMid = false
        rows.grouped(rows.length / 5 + 1).foreach { b =>
          push(b)
          fed = fed ++ b
          if (!checkedMid && fed.length >= rows.length / 2) {
            val want = reference(fed)
            assert(want.nonEmpty && latest.toMap == want, "mid-stream parity")
            checkedMid = true
          }
        }
      }

      // final parity against the DRIVER-GATED batch query itself
      val batch = graft.SparkEntry.queries("q280_aa_test")(
          spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getLong(0) -> AaRow(r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getBoolean(6)))
        .toMap
      assert(batch.nonEmpty && latest.toMap == batch)
    }
  }

  test("streamingPeekingAudit: cumulative rows equal the q288 'aa' prefix derivation, mid-stream and final") {
    withRocksDb {
      import TransformWithStateOps.{AaEvent, AaRow}
      import graft.ext.Evaluation.z2PpmJvm
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(expr("ts div 86400000000000").as("day"),
          pmod(graft.ext.Sampling.portableHash(col("user_id")), lit(2))
            .cast("long").as("arm"),
          (col("event_type") === "purchase").cast("long").as("conv"))
        .orderBy("day") // event-time order: later batches only touch later days
        .as[(Long, Long, Long)].collect().toSeq
        .map(t => AaEvent(t._1, t._2, t._3))

      def reference(seq: Seq[AaEvent]): Map[Long, AaRow] = {
        val byDay = seq.groupBy(_.day).toSeq.sortBy(_._1)
        var (n1, c1, n2, c2) = (0L, 0L, 0L, 0L)
        byDay.map { case (d, es) =>
          n1 += es.count(_.arm == 0L); c1 += es.filter(_.arm == 0L).map(_.conv).sum
          n2 += es.count(_.arm == 1L); c2 += es.filter(_.arm == 1L).map(_.conv).sum
          val z2 = z2PpmJvm(n1, c1, n2, c2)
          d -> AaRow(d, n1, c1, n2, c2, z2, z2.exists(_ > 4000000L))
        }.toMap
      }

      val latest = scala.collection.mutable.Map[Long, AaRow]()
      val input = MemoryStream[AaEvent]
      val query = collect(TransformWithStateOps.streamingPeekingAudit(input.toDS(), 4000000L)) { emitted =>
        emitted.foreach(r => latest(r.day) = r)
      }
      feed(input, query) { push =>
        var fed = Seq.empty[AaEvent]
        var checkedMid = false
        rows.grouped(rows.length / 6 + 1).foreach { b =>
          push(b)
          fed = fed ++ b
          if (!checkedMid && fed.length >= rows.length / 2) {
            val want = reference(fed)
            assert(want.nonEmpty && latest.toMap == want, "mid-stream parity")
            checkedMid = true
          }
        }
      }

      // final parity against the DRIVER-GATED q288 'aa' scenario rows
      val batch = graft.SparkEntry.queries("q288_peeking_audit")(
          spark, "/root/testdata/sf0.001")
        .where(col("scenario") === "aa")
        .collect().map(r => r.getLong(1) -> AaRow(r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getLong(6)), r.getBoolean(7)))
        .toMap
      assert(batch.nonEmpty && latest.toMap == batch)
    }
  }

  test("streamingCdcChunks: closed ∪ open chunks equal the batch cdcChunks frame, mid-stream and final") {
    withRocksDb {
      import TransformWithStateOps.{CdcChunk, CdcToken}
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      // the same tokenization/hash pipeline the batch operator uses
      val tokens = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
          pmod(graft.ext.Sampling.portableHash(col("tok")), lit(1099511627776L)).as("h"))
        .orderBy(col("doc_id"), col("p")) // per-doc position order (priming contract)
        .as[(Long, Long, Long)].collect().toSeq
        .map(t => CdcToken(t._1, t._2, t._3))

      val latest = scala.collection.mutable.Map[(Long, Long), CdcChunk]()
      val input = MemoryStream[CdcToken]
      val query = collect(TransformWithStateOps.streamingCdcChunks(input.toDS())) { emitted =>
        emitted.foreach(r => latest((r.doc_id, r.cid)) = r)
      }
      feed(input, query) { push =>
        // splits deliberately land mid-document and mid-chunk
        tokens.grouped(tokens.length / 7 + 1).foreach { b =>
          push(b)
        }
      }

      // final parity against the batch chunk frame (len AND fingerprint)
      val batch = graft.ext.Dedup.cdcChunks(docs)
        .select(col("doc_id"), col("cid"), col("len"), col("fpc"))
        .as[(Long, Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
      val streamed = latest.map { case (k, c) => k -> ((c.len, c.fpc)) }.toMap
      assert(batch.nonEmpty && streamed == batch)
      // every closed chunk ends on a boundary; only tail chunks are open
      val opens = latest.valuesIterator.filter(_.open).map(_.doc_id).toSeq
      assert(opens.distinct.size == opens.size, "at most one open chunk per doc")
    }
  }

  test("streamingMultitouch: conversion-triggered credits equal the batch q257 attribution, mid-stream and final") {
    withRocksDb {
      import TransformWithStateOps.{TouchCredit, TouchEvent}
      // event-time order across batches (the priming contract); deliberately
      // uneven splits so conversions land mid-batch and cross-batch paths
      val rows = graft.replay.TsNanos.normalize(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .orderBy(col("ts"), col("event_id"))
        .as[(Long, String, Long, Long)].collect().toSeq
        .map(t => TouchEvent(t._1, t._2, t._3, t._4))

      def batchRef(seq: Seq[TouchEvent]): Map[String, (Long, Long, Long)] = {
        val byUser = seq.groupBy(_.user_id)
        val perUser = byUser.toSeq.flatMap { case (uid, es) =>
          val sorted = es.sortBy(r => (r.ts, r.event_id))
          sorted.find(_.event_type == "purchase").toSeq.flatMap { conv =>
            val path = sorted.takeWhile(r =>
              (r.ts, r.event_id) != (conv.ts, conv.event_id))
              .filter(_.event_type != "purchase")
            val n = path.length.toLong
            path.zipWithIndex.map { case (r, i) =>
              val rk = i + 1L
              val c = if (n == 1) 1000000L
                else if (rk == 1L || rk == n) 400000L
                else 200000L / (n - 2L)
              (uid, r.event_type, c)
            }
          }
        }
        perUser.groupBy(_._2).map { case (tp, cs) =>
          tp -> ((cs.size.toLong, cs.map(_._1).distinct.size.toLong,
            cs.map(_._3).sum))
        }
      }

      val got = scala.collection.mutable.ArrayBuffer[TouchCredit]()
      val input = MemoryStream[TouchEvent]
      val query = collect(TransformWithStateOps.streamingMultitouch(input.toDS()), "append") { emitted =>
        got ++= emitted
      }
      feed(input, query) { push =>
        var fed = Seq.empty[TouchEvent]
        var checkedMid = false
        rows.grouped(rows.length / 5 + 1).foreach { b =>
          push(b)
          fed = fed ++ b
          def agg = got.groupBy(_.event_type).map { case (tp, cs) =>
            tp -> ((cs.map(_.n_touches).sum, cs.map(_.user_id).distinct.size.toLong,
              cs.map(_.credit_ppm_sum).sum))
          }
          if (!checkedMid && fed.length >= rows.length / 2) {
            val want = batchRef(fed)
            assert(want.nonEmpty && agg == want, "mid-stream parity")
            checkedMid = true
          }
        }
      }

      // final parity against the DRIVER-GATED batch query itself
      val batch = graft.SparkEntry.queries("q257_multitouch_attribution")(
          spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val fin = got.groupBy(_.event_type).map { case (tp, cs) =>
        tp -> ((cs.map(_.n_touches).sum, cs.map(_.user_id).distinct.size.toLong,
          cs.map(_.credit_ppm_sum).sum))
      }
      assert(batch.nonEmpty && fin == batch)
    }
  }

  test("streamingSnapshotDiff: running (source, status) counts equal the batch q227 diff across splits") {
    withRocksDb {
      import TransformWithStateOps.DiffCountRow
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

      val latest = scala.collection.mutable.Map[(String, String), Long]()
      val input = MemoryStream[(Long, String, String)]
      val query = collect(TransformWithStateOps.streamingSnapshotDiff(
          input.toDF().toDF("doc_id", "source", "text"))) { emitted =>
        emitted.foreach(r => latest((r.source, r.status)) = r.n_docs)
      }
      feed(input, query) { push =>
        // arrival order must not matter — shuffle, then split unevenly
        scala.util.Random.shuffle(docs).grouped(docs.length / 4 + 1).foreach { b =>
          push(b)
        }
      }

      val batch = graft.SparkEntry.queries("q227_snapshot_diff")(
          spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(batch.nonEmpty && latest.toMap == batch)
      assert(batch.keysIterator.map(_._2).toSet.size >= 3,
        "diff must be non-degenerate (several statuses realized)")
    }
  }

  // ---------------------------------------------------------------------
  // State-row CEILINGS (the r8 interval-join eviction discipline applied
  // to the long-window twins): each twin's doc comment claims a bounded
  // state shape — these assertions make the claims listener-verified
  // regression tests. Each run feeds >= 3x the twin's window length in
  // event-time-ordered batches and reads numRowsTotal from the final
  // query progress; an unpruned implementation fails by construction.
  // ---------------------------------------------------------------------

  private def finalStateRows[T](input: MemoryStream[T], batches: Seq[Seq[T]],
      start: => StreamingQuery): Long = {
    val query = start
    feed(input, query) { push =>
      batches.foreach(push)
      query.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
  }

  test("streamingSloBurnRate state stays <= longW hours across a 4x-window feed") {
    withRocksDb {
      import TransformWithStateOps.HourErr
      // 96 hours = 4x the 24 h long window, 10 rows/hour, hour-ordered
      val rows = (0L until 96L).flatMap(h =>
        (0 until 10).map(i => HourErr(h, if ((h + i) % 7 == 0) 1L else 0L)))
      val input = MemoryStream[HourErr]
      val n = finalStateRows(input, rows.grouped(120).toSeq,
        collect(TransformWithStateOps.streamingSloBurnRate(input.toDS(),
            budgetPpm = 200000L, shortW = 6, longW = 24,
            fastCenti = 110L, slowCenti = 103L))(_ => ()))
      // pruned contract: hours <= maxH - longW are removed, so <= 24 map
      // entries survive; unpruned state would hold all 96 fed hours
      // exact pruned shape is 24 trailing hours; a lower bound of 20 also
      // proves numRowsTotal counts MAP ENTRIES (a keys-only metric would
      // report 1 and silently weaken this ceiling into a tautology)
      assert(n >= 20L, s"state metric must count map entries: $n")
      assert(n <= 30L, s"SloBurn state must be <= longW hours (+slack): $n rows vs 96 hours fed")
    }
  }

  test("streamingSlidingHll state stays <= windowWeeks x 64 registers across a 4x-window feed") {
    withRocksDb {
      import TransformWithStateOps.WeekHash
      // 16 weeks = 4x the 4-week window, 200 distinct hashes/week so every
      // week occupies (nearly) all 64 buckets; week-ordered batches
      val rnd = new scala.util.Random(42)
      // >>> 4: in-contract 60-bit NON-NEGATIVE hashes (portableHash's range)
      val rows = (0L until 16L).flatMap(w =>
        (0 until 200).map(_ => WeekHash("g", w, rnd.nextLong() >>> 4)))
      val input = MemoryStream[WeekHash]
      val n = finalStateRows(input, rows.grouped(500).toSeq,
        collect(TransformWithStateOps.streamingSlidingHll(input.toDS(), windowWeeks = 4))(_ => ()))
      // pruned contract: weeks <= maxW - windowWeeks drop, so <= 4x64 = 256
      // registers survive; unpruned state would hold ~16x64 ≈ 1000
      // pruned shape is ~4x64 = 256 occupied registers (200 hashes/week
      // fills nearly all 64 buckets); >= 180 proves entry-level counting
      assert(n >= 180L, s"state metric must count map entries: $n")
      assert(n <= 300L, s"SlidingHll state must be <= windowWeeks*64 (+slack): $n rows")
    }
  }

  test("streamingPeekingAudit state is DAY-bounded, not event-bounded") {
    withRocksDb {
      import TransformWithStateOps.AaEvent
      // Peeking's prefix windows legitimately keep EVERY day (nothing
      // prunes — the doc-comment contract), so its ceiling is the day
      // CARDINALITY: 30 days x 40 events = 1200 events must leave ~30
      // state rows, not 1200.
      val rnd = new scala.util.Random(7)
      val rows = (0L until 30L).flatMap(d =>
        (0 until 40).map(i => AaEvent(d, i % 2, if (rnd.nextInt(5) == 0) 1L else 0L)))
      val input = MemoryStream[AaEvent]
      val n = finalStateRows(input, rows.grouped(150).toSeq,
        collect(TransformWithStateOps.streamingPeekingAudit(input.toDS(), critPpm = 4000000L))(_ => ()))
      // exact shape is one tuple per day = 30; >= 30 proves entry-level
      // counting, <= 36 proves event volume never leaks into state
      assert(n >= 30L, s"state metric must count map entries: $n")
      assert(n <= 36L, s"Peeking state must track day cardinality (30), got $n for 1200 events")
    }
  }

  test("passAtKStream: final emissions equal the batch q319 frame across batch splits") {
    withRocksDb {
      import TransformWithStateOps.{PassAtKReport, TaskAttempt}
      val rnd = new scala.util.Random(67)
      // tasks of varied sizes, some below the n >= 5 gate mid-stream and
      // crossing it in a later batch; one task never crosses
      val rows: Seq[TaskAttempt] = (0L until 20L).flatMap { t =>
        val n = if (t == 19L) 3 else 4 + rnd.nextInt(30)
        Seq.fill(n)(TaskAttempt(t, rnd.nextInt(4) == 0))
      }
      val shuffled = rnd.shuffle(rows)

      val latest = scala.collection.mutable.Map[Long, PassAtKReport]()
      val input = MemoryStream[TaskAttempt]
      val query = collect(TransformWithStateOps.passAtKStream(input.toDS())) { emitted =>
        emitted.foreach(r => latest(r.task) = r)
      }
      feed(input, query) { push =>
        shuffled.grouped(90).foreach { b => push(b) }
      }

      val expected = graft.ext.Evaluation.passAtK(
          rows.toDF("task", "ok"), "task", col("ok"), Seq(1, 3, 5))
        .collect()
        .map(r => r.getLong(0) -> PassAtKReport(r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      assert(latest.toMap == expected,
        "streaming final state must equal the batch operator")
      assert(!latest.contains(19L), "below-gate tasks never emit")
    }
  }
}
