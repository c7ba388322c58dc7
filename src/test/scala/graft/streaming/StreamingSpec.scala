package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSuite, Tables}
import EventStreams.{Event, Session}

class StreamingSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming hourly counts == batch twin on the events table") {
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val q = EventStreams.hourlyCounts(stream, streaming = true)
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("hourly_stream")
      .orderBy("hour_start", "event_type").collect().toSeq
    val want = EventStreams.hourlyCounts(Tables.events(spark, sfDir))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("sessionization merges an out-of-order in-gap event from a later batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minute: Long) =
      Event(id, new java.sql.Timestamp(1704067200000L + minute * 60000L), 7L, "x", 0.0)

    val source = MemoryStream[Event]
    val q = EventStreams.sessionizeStream(source.toDS())
      .writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()
    source.addData(ev(1, 10)) // batch 1: t=10min
    q.processAllAvailable()
    source.addData(ev(2, 5)) // batch 2: EARLIER but within the 30-min gap
    q.processAllAvailable()
    source.addData(ev(99, 10000)) // flush watermark
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ooo_sessions").as[Session].collect()
      .filter(_.user_id == 7L).toSeq
    // one session covering BOTH events, starting at the earlier one
    assert(got == Seq(Session(7L,
      EventStreams.tsMicros(ev(2, 5).ts), EventStreams.tsMicros(ev(1, 10).ts), 2)))
  }

  test("an in-watermark event can bridge two intervals from an earlier batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minute: Long) =
      Event(id, new java.sql.Timestamp(1704067200000L + minute * 60000L), 3L, "x", 0.0)

    val source = MemoryStream[Event]
    val q = EventStreams.sessionizeStream(source.toDS())
      .writeStream.format("memory").queryName("bridge_sessions")
      .outputMode("append").start()
    // batch 1: t=0 and t=40min — a >30min hole, but the watermark (10min)
    // has NOT sealed [0,0]: a legal later event can still bridge them.
    // An eager emit of [0,0] here would diverge from the batch twin.
    source.addData(ev(1, 0), ev(2, 40))
    q.processAllAvailable()
    // batch 2: t=20min (>= watermark) bridges both into ONE session
    source.addData(ev(3, 20))
    q.processAllAvailable()
    source.addData(ev(99, 10000)) // flush watermark
    q.processAllAvailable()
    q.stop()

    val got = spark.table("bridge_sessions").as[Session].collect()
      .filter(_.user_id == 3L).toSeq
    assert(got == Seq(Session(3L,
      EventStreams.tsMicros(ev(1, 0).ts), EventStreams.tsMicros(ev(2, 40).ts), 3)))
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq.take(200)

    val source = MemoryStream[Event]
    val q = EventStreams.dedupStream(source.toDS().toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    source.addData(events ++ events) // every event duplicated
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_stream").select("event_id").as[Long].collect()
    assert(got.length == events.length)
    assert(got.toSet == events.map(_.event_id).toSet)
  }

  test("streaming corpus prep (quality filter -> dedup -> per-source counts) == batch") {
    // the operators composed END TO END in one streaming query: a
    // stateless quality gate, stateful watermarked exact dedup on
    // (source, fp), and a per-source aggregation downstream of the dedup
    // state — the streaming form of pipeline_corpus_prep's skeleton
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.TextFunctions

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
      .limit(120).collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      .withColumn("fp", TextFunctions.fingerprint(col("text")))

    val source = MemoryStream[(Long, String, String)]
    val stream = prep(source.toDF().toDF("doc_id", "source", "text"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("source", "fp")
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    val q = stream.writeStream.format("memory").queryName("prep_stream")
      .outputMode("update").start()
    // duplicates injected across DIFFERENT micro-batches: state must carry
    (docs ++ docs.take(40)).grouped(50).foreach { b =>
      source.addData(b.toSeq); q.processAllAvailable()
    }
    q.stop()

    // counts are monotone across update emissions -> final = max per key
    val got = spark.table("prep_stream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val want = prep(docs.toSeq.toDF("doc_id", "source", "text"))
      .select("source", "fp").distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("streaming ngram novelty (stream-static anti join) == batch query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val boundary = docs.agg(max(col("doc_id"))).head().getLong(0) * 4 / 5
    val shh = graft.functions.TextFunctions.shingleHashes(col("text"),
      graft.operators.TrainingDataQueries.SubstrNgram)
    val baseShh = graft.CheckpointUtil.materialize(
      docs.filter(col("doc_id") <= boundary)
        .select(explode(shh).as("sh")).distinct())._1
    val arrivals = docs.filter(col("doc_id") > boundary)
      .as[(Long, String)].collect()
    assert(arrivals.length >= 3, "fixture must leave a non-trivial new batch")

    val source = MemoryStream[(Long, String)]
    val q = StreamingDedup.noveltyStream(
        source.toDF().toDF("doc_id", "text"), baseShh)
      .writeStream.format("memory").queryName("novelty_stream")
      .outputMode("update").start()
    // three uneven micro-batches: values must not depend on the split
    Seq(arrivals.take(arrivals.length / 4),
        arrivals.slice(arrivals.length / 4, arrivals.length / 2),
        arrivals.drop(arrivals.length / 2))
      .filter(_.nonEmpty)
      .foreach { c => source.addData(c.toSeq); q.processAllAvailable() }
    q.stop()

    val got = spark.table("novelty_stream")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(max(col("n_novel")).as("n_novel"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val want = graft.SparkEntry.queries("pipeline_ngram_novelty")(spark, sfDir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(want.nonEmpty)
    // a doc whose every shingle is known emits no stream row — complete
    // it to n_novel=0 exactly as the batch query's left join does
    assert(got.keySet.subsetOf(want.keySet), "stream emitted unknown docs")
    val completed = want.map { case (id, (ns, _)) =>
      id -> got.getOrElse(id, (ns, 0L))
    }
    assert(completed == want)
    graft.CheckpointUtil.releaseStragglers()
  }

  test("MinHash sketch aggregate in a streaming update-mode agg == batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.TextFunctions.shingleHashes
    import graft.operators.MinHashSketchAgg

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
      .limit(60).collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    val source = MemoryStream[(Long, String, String)]
    val sketched = source.toDF().toDF("doc_id", "source", "text")
      .select(col("source"), shingleHashes(col("text"), 3).as("shh"))
      .groupBy(col("source"))
      .agg(MinHashSketchAgg.column(col("shh")).as("sig"))
    val q = sketched.writeStream.format("memory").queryName("sketch_stream")
      .outputMode("update").start()
    // feed in three uneven batches: the sketch state must MERGE across
    // batches (zero/reduce/merge law), not just within one
    docs.grouped(25).foreach { batch => source.addData(batch.toSeq); q.processAllAvailable() }
    q.stop()

    // sketch state is monotone (elementwise min), so the final state per
    // key == elementwise min over every update row the sink saw — robust
    // to the memory sink's row ordering
    val got = spark.table("sketch_stream")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toSeq
      .groupBy(_._1).view.mapValues(
        _.map(_._2).reduce((a, b) => a.zip(b).map { case (x, y) => math.min(x, y) }))
      .toMap
    val want = docs.toSeq.toDF("doc_id", "source", "text")
      .select(col("source"), shingleHashes(col("text"), 3).as("shh"))
      .groupBy(col("source"))
      .agg(MinHashSketchAgg.column(col("shh")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("Count-Min sketch aggregate in a streaming update-mode agg == batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.TextFunctions
    import graft.operators.CountMinAgg

    val agg = new CountMinAgg(32, 2)
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), TextFunctions.fingerprint(col("text")).as("fp"))
      .limit(60).collect().map(r => (r.getString(0), r.getLong(1)))

    val source = MemoryStream[(String, Long)]
    val built = source.toDF().toDF("source", "fp")
      .groupBy(col("source"))
      .agg(agg.column(col("fp")).as("cms"))
    val q = built.writeStream.format("memory").queryName("cms_stream")
      .outputMode("update").start()
    docs.grouped(25).foreach { batch => source.addData(batch.toSeq); q.processAllAvailable() }
    q.stop()

    // counters are monotone non-decreasing across update emissions, so the
    // final state per key == elementwise MAX over every update row
    val got = spark.table("cms_stream")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toSeq
      .groupBy(_._1).view.mapValues(
        _.map(_._2).reduce((a, b) => a.zip(b).map { case (x, y) => math.max(x, y) }))
      .toMap
    val want = docs.toSeq.toDF("source", "fp")
      .groupBy(col("source"))
      .agg(agg.column(col("fp")).as("cms"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("Bloom filter aggregate in a streaming update-mode agg == batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.TextFunctions
    import graft.operators.BloomFilterAgg

    val agg = new BloomFilterAgg(512, 3)
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), TextFunctions.fingerprint(col("text")).as("fp"))
      .limit(60).collect().map(r => (r.getString(0), r.getLong(1)))

    val source = MemoryStream[(String, Long)]
    val built = source.toDF().toDF("source", "fp")
      .groupBy(col("source"))
      .agg(agg.column(col("fp")).as("bloom"))
    val q = built.writeStream.format("memory").queryName("bloom_stream")
      .outputMode("update").start()
    docs.grouped(25).foreach { batch => source.addData(batch.toSeq); q.processAllAvailable() }
    q.stop()

    // bitmap state is monotone (bitwise OR), so final state per key ==
    // elementwise OR over every update row the sink saw
    val got = spark.table("bloom_stream")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toSeq
      .groupBy(_._1).view.mapValues(
        _.map(_._2).reduce((a, b) => a.zip(b).map { case (x, y) => x | y }))
      .toMap
    val want = docs.toSeq.toDF("source", "fp")
      .groupBy(col("source"))
      .agg(agg.column(col("fp")).as("bloom"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("bounded top-k aggregate in a streaming update-mode agg == batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.TopKAgg

    val events = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"), col("event_id"))
      .limit(300).collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))

    val source = MemoryStream[(String, Double, Long)]
    val q = source.toDF().toDF("event_type", "value", "event_id")
      .groupBy(col("event_type"))
      .agg(TopKAgg.column(3, col("value"), col("event_id")).as("top"))
      .writeStream.format("memory").queryName("topk_stream")
      .outputMode("update").start()
    events.grouped(120).foreach { b => source.addData(b.toSeq); q.processAllAvailable() }
    q.stop()

    // top-k state is monotone under merge (older partials are dominated),
    // so folding every update row per key with the aggregate's own merge
    // reconstructs the final state regardless of sink row order
    val agg = new TopKAgg(3)
    def toVec(s: Seq[org.apache.spark.sql.Row]) =
      s.map(r => (r.getDouble(0), r.getLong(1))).toVector
    val got = spark.table("topk_stream")
      .collect().map(r => r.getString(0) -> toVec(r.getSeq[org.apache.spark.sql.Row](1)))
      .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).reduce(agg.merge)).toMap
    val want = events.toSeq.toDF("event_type", "value", "event_id")
      .groupBy(col("event_type"))
      .agg(TopKAgg.column(3, col("value"), col("event_id")).as("top"))
      .collect().map(r => r.getString(0) -> toVec(r.getSeq[org.apache.spark.sql.Row](1)))
      .toMap
    assert(want.nonEmpty && want.values.forall(_.length == 3))
    assert(got == want)
  }

  test("stream-stream attribution self-join == batch twin") {
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val q = EventStreams.attributionStream(stream)
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("attr_stream")
      .orderBy("purchase_id", "click_id").collect().toSeq
    val want = EventStreams.attributionBatch(Tables.events(spark, sfDir))
      .orderBy("purchase_id", "click_id").collect().toSeq
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("streaming near-dup pairs == batch LSH candidates (within horizon)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Dedup
    import graft.functions.TextFunctions

    // documents with event time derived from doc_id: 20 s apart, so the
    // whole 120-doc slice spans ~40 min — within the 1-hour horizon of
    // each other (a wider spacing correctly DROPS far-apart pairs)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(120)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def ts(id: Long) = new java.sql.Timestamp(1704067200000L + id * 20000L)

    val source = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingDedup.nearDupPairs(
        source.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    docs.grouped(50).foreach { batch =>
      source.addData(batch.map { case (id, t) => (id, ts(id), t) }.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val got = spark.table("neardup_stream")
      .select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchDf = docs.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.shingleHashes(col("text"), 3).as("shh"))
      .withColumn("bands", Dedup.bandHashes(Dedup.minhashSignature(col("shh"))))
      .persist()
    val want = Dedup.lshCandidatePairs(batchDf.select("doc_id", "bands"), "doc_id", "bands")
      .join(batchDf.select(col("doc_id").as("id_a"), col("shh").as("shh_a")), "id_a")
      .join(batchDf.select(col("doc_id").as("id_b"), col("shh").as("shh_b")), "id_b")
      .filter(Dedup.jaccard(col("shh_a"), col("shh_b")) >= 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("streaming semantic dedup pairs == batch tau-within-list pairs (within horizon)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{Dedup, Similarity}

    // 200 vectors, 20 s apart -> the slice spans ~67 min; tau low enough
    // that list-mates actually pair up on synthetic embeddings
    val corpus = Similarity.prepare(Tables.embeddings(spark, sfDir))
      .filter(col("vec_id") < 200).persist()
    val cents = Similarity.collectCentroids(Similarity.centroids(corpus, 16))
    val rows = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    def ts(id: Long) = new java.sql.Timestamp(1704067200000L + id * 20000L)

    val source = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    val q = StreamingDedup.semanticDupPairs(
        source.toDF().toDF("vec_id", "ts", "embedding"),
        "vec_id", "ts", "embedding", cents, horizon = "2 hours", tau = 0.3)
      .writeStream.format("memory").queryName("semdup_stream")
      .outputMode("append").start()
    rows.grouped(80).foreach { batch =>
      source.addData(batch.map { case (id, e) => (id, ts(id), e) }.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val got = spark.table("semdup_stream")
      .select("id_a", "id_b", "cen_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val assigned = Similarity.ivfAssignWith(corpus, cents)
    val want = assigned.select(col("cen_id"), col("vec_id").as("id_a"),
        col("v").as("v_a"), col("nrm").as("nrm_a"))
      .join(assigned.select(col("cen_id"), col("vec_id").as("id_b"),
        col("v").as("v_b"), col("nrm").as("nrm_b")), "cen_id")
      .filter(col("id_a") < col("id_b"))
      .filter(Dedup.cosine(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")) >= 0.3)
      .select("id_a", "id_b", "cen_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "batch twin produced no pairs — tau too high for the fixture")
    assert(got == want)
    corpus.unpersist()
  }

  test("streaming CDC compaction: complete-mode max-struct state == batch compactLatest") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Upsert

    // compactLatest is an ordinary map-side-combinable aggregate, so the
    // SAME call compacts a CDC stream continuously: the standing state per
    // key is the latest change seen so far, late rows fold in via max
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("seq"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().toSeq

    val source = MemoryStream[(Long, Long, Long, String)]
    val q = Upsert.compactLatest(
        source.toDF().toDF("user_id", "seq", "event_id", "event_type"),
        "user_id", Seq("seq", "event_id"))
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("complete").start()
    ev.grouped(ev.size / 3 + 1).foreach { b =>
      source.addData(b)
      q.processAllAvailable()
    }
    q.stop()

    val got = spark.table("cdc_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val want = Upsert.compactLatest(
        ev.toDF("user_id", "seq", "event_id", "event_type"),
        "user_id", Seq("seq", "event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("streaming ANN serving: complete-mode TopKAgg state == batch IVF answers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Similarity

    val corpus = Similarity.prepare(Tables.embeddings(spark, sfDir)).persist()
    val cents = Similarity.collectCentroids(Similarity.centroids(corpus, 16))
    val qrows = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingDedup.annServe(
        source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        corpus, cents, nProbe = 4, k = 10)
      .writeStream.format("memory").queryName("ann_serve")
      .outputMode("complete").start()
    // queries trickle in across micro-batches; each batch's answers must
    // not disturb standing ones (complete mode re-emits the full state)
    qrows.grouped(3).foreach { b =>
      source.addData(b.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val got = spark.table("ann_serve").collect().map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getDouble(0), x.getLong(1))).toList
    }.toMap
    val want = Similarity.ivfTopKWith(
        Similarity.centroids(corpus, 16), corpus, col("vec_id") < 8, 4, 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), (r.getDouble(3), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    assert(want.size == 8)
    assert(got == want)
    corpus.unpersist()
  }

  test("streaming ANN serving in UPDATE mode: last update per query == batch IVF answers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Similarity

    val corpus = Similarity.prepare(Tables.embeddings(spark, sfDir)).persist()
    val cents = Similarity.collectCentroids(Similarity.centroids(corpus, 16))
    val qrows = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingDedup.annServe(
        source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        corpus, cents, nProbe = 4, k = 10)
      .writeStream.format("memory").queryName("ann_serve_upd")
      .outputMode("update").start()
    qrows.grouped(3).foreach { b =>
      source.addData(b.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // update mode re-emits only the groups a batch changed; each query's
    // candidates arrive in one batch here, so the LAST update per query is
    // its standing answer — fold in sink order and keep the last
    val got = spark.table("ann_serve_upd").collect().foldLeft(
        Map.empty[Long, List[(Double, Long)]]) { (acc, r) =>
      acc + (r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getDouble(0), x.getLong(1))).toList)
    }
    val want = Similarity.ivfTopKWith(
        Similarity.centroids(corpus, 16), corpus, col("vec_id") < 8, 4, 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), (r.getDouble(3), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    assert(want.size == 8)
    assert(got == want)
    corpus.unpersist()
  }

  test("bucketed streaming ANN serving: every micro-batch is bucket-pruned, stream==batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Similarity

    val corpus = Similarity.prepare(Tables.embeddings(spark, sfDir)).persist()
    val cents = Similarity.collectCentroids(Similarity.centroids(corpus, 16))
    // the write-once serving layout (same shape as src_ivf_bucketed)
    val tbl = "graft_ivf_stream_spec"
    graft.sources.Layouts.writeBucketed(
      Similarity.ivfAssignWith(corpus, cents), tbl, "cen_id",
      nBuckets = 16, sortCols = Seq("cen_id", "vec_id"))
    val qrows = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 6)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingDedup.annServeBucketed(
        source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, cents, nProbe = 4, k = 10) { (df, _) =>
      plans += df.queryExecution.executedPlan.toString
      got ++= df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.start()
    qrows.grouped(2).foreach { b =>
      source.addData(b.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // the pruning pin: NO micro-batch scans unprobed buckets — each batch's
    // scan reads strictly fewer buckets than the table holds
    assert(plans.size == 3, s"expected 3 micro-batch plans, got ${plans.size}")
    plans.foreach { p =>
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
      assert(m.isDefined, p)
      assert(m.get.group(1).toInt < m.get.group(2).toInt, m.get.matched)
      assert(!p.contains("SortMergeJoin"), p) // lists never shuffle
    }
    // stream==batch: the union of per-batch answers equals the in-flight
    // IVF result over the same queries (the bucketed roundtrip is
    // row-identical to compute-side IVF — same contract the batch gate
    // pins for src_ivf_bucketed)
    val want = Similarity.ivfTopKWith(
        Similarity.centroids(corpus, 16), corpus, col("vec_id") < 6, 4, 10)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(want.nonEmpty)
    assert(got.toSet == want)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    corpus.unpersist()
  }

  test("streaming IVF ingest: append-maintained index == full rebuild, serving prunes it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Similarity

    val corpus = Similarity.prepare(Tables.embeddings(spark, sfDir)).persist()
    val cents = Similarity.collectCentroids(Similarity.centroids(corpus, 16))
    val tbl = "graft_ivf_ingest_spec"
    // clear the catalog entry AND a prior session's orphaned location dir
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    locally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del); f.delete()
      }
      del(new java.io.File(graft.sources.Scratch.warehouseDir(spark), tbl))
    }
    val rows = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingDedup.ivfIngest(
        source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, cents, nBuckets = 16).start()
    rows.grouped(200).foreach { b =>
      source.addData(b.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // the batch-maintained table is row-identical to a one-shot rebuild —
    // compare counts too, or a double-appended batch would collapse in the
    // Set and pass
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val got = spark.table(tbl).select("vec_id", "cen_id").collect().map(key).toSet
    val want = Similarity.ivfAssignWith(corpus, cents)
      .select("vec_id", "cen_id").collect().map(key).toSet
    assert(want.nonEmpty)
    assert(got == want)
    assert(spark.table(tbl).count() == want.size)
    // REPLAY a mid-stream batch (foreachBatch is at-least-once): the
    // dynamic partition overwrite makes it idempotent — same rows, same
    // count, no duplicates
    StreamingDedup.ivfIngestBatch(
      rows.grouped(200).toSeq(1).toSeq.toDF("vec_id", "embedding"),
      batchId = 1L, "vec_id", "embedding", tbl, cents, nBuckets = 16)
    assert(spark.table(tbl).select("vec_id", "cen_id").collect().map(key).toSet == want)
    assert(spark.table(tbl).count() == want.size)
    // and the first-append-created table carries the bucket spec: a
    // serving read against it still bucket-prunes
    val served = graft.operators.SimilarityQueries.probeListsPruned(
      spark, tbl, Seq((0L, rows(0)._2.map(_.toDouble).toSeq,
        math.sqrt(rows(0)._2.map(x => x * x.toDouble).sum), cents.head._1)), 5)
    val plan = served.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt, plan)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    corpus.unpersist()
  }

  test("compressed streaming ANN serving: ADC coarse reads pruned both ways, stream==batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Similarity
    import graft.functions.NativeExpressions

    val corpus = Similarity.prepare(Tables.embeddings(spark, sfDir)).persist()
    val all = Similarity.collectCentroids(Similarity.centroids(corpus, 16))
    val cents = all
    val codebook: Seq[Seq[Double]] = all.map(_._2) // first-16, like the batch query
    val tbl = "graft_ivfpq_stream_spec"
    graft.sources.Layouts.writeBucketed(
      Similarity.ivfAssignWith(corpus, cents)
        .withColumn("codes", NativeExpressions.pqEncode(col("v"), codebook, 8))
        .select(col("vec_id"), col("cen_id"), col("codes"), col("nrm"), col("v")),
      tbl, "cen_id", nBuckets = 16, sortCols = Seq("cen_id", "vec_id"))
    val qrows = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 6)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val source = MemoryStream[(Long, Seq[Float])]
    val q = StreamingDedup.annServePq(
        source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tbl, cents, codebook, m = 8, nProbe = 4, candidates = 32, k = 10) { (df, _) =>
      plans += df.queryExecution.executedPlan.toString
      got ++= df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.start()
    qrows.grouped(2).foreach { b =>
      source.addData(b.toSeq)
      q.processAllAvailable()
    }
    q.stop()

    assert(plans.size == 3, s"expected 3 micro-batch plans, got ${plans.size}")
    plans.foreach { p =>
      // bucket pruning per batch — EVERY scan of the table (coarse AND the
      // full-vector rescore) must be pruned; one unpruned rescore scan
      // re-reads the whole corpus per micro-batch
      val ms = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findAllMatchIn(p).toSeq
      assert(ms.size >= 2, p)
      ms.foreach(m => assert(m.group(1).toInt < m.group(2).toInt, m.matched))
      // column pruning: the coarse scan reads codes WITHOUT the vector col
      val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(schemas.exists(l => l.contains("codes") && !l.contains("v:array")),
        schemas.mkString("\n"))
      assert(!p.contains("SortMergeJoin"), p)
    }
    // stream==batch: union of per-batch answers == the in-flight IVF-PQ
    // result over the same queries (compressed roundtrip preserves answers)
    val want = Similarity.ivfPqTopK(corpus, col("vec_id") < 6, 16, 4, 16, 8, 32, 10)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(want.nonEmpty)
    assert(got.toSet == want)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    corpus.unpersist()
  }

  test("flatMapGroupsWithState sessionization == batch window twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq

    val source = MemoryStream[Event]
    val q = EventStreams.sessionizeStream(source.toDS())
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    source.addData(events)
    q.processAllAvailable()
    // advance the watermark far past every session end so open sessions
    // time out and emit
    val maxTs = events.map(_.ts.getTime).max
    source.addData(Event(Long.MaxValue, new java.sql.Timestamp(maxTs + 86400000L),
      -1L, "flush", 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sessions_stream").as[Session].collect()
      .filter(_.user_id != -1L).sortBy(s => (s.user_id, s.start_us)).toSeq
    val want = EventStreams.sessionizeBatch(Tables.events(spark, sfDir))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, s, e, n) => Session(u, s, e, n) }
      .sortBy(s => (s.user_id, s.start_us)).toSeq
    assert(got == want)
    assert(want.nonEmpty)
  }
}
