package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming rendition of the incremental layer (SURVEY.md
  * §2.10): the reference has no stream engine — its dynamic tables are
  * cron-refreshed batch queries — so `Trigger.AvailableNow` is the exact
  * analog: drain all available input, update the materialization, stop.
  * Correctness condition, same as IVM: streaming result ≡ batch result.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  import SparkSuite._
  import StreamingSpec.E

  test("AvailableNow streaming hourly rollup matches the batch aggregate") {
    // stage the event file into a landing directory (file stream sources
    // watch directories, the COPY-from-gpfdist analog)
    val landing = tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/events.parquet"),
      landing.resolve("batch0.parquet"))
    val schema = spark.read.parquet(s"$Sf/events.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .parquet(landing.toString)
      .transform(Tables.withNormalizedTs)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))
    val qname = "stream_hourly_rollup"
    val q = stream.writeStream
      .format("memory")
      .queryName(qname)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive, "AvailableNow query did not drain and stop in time")

    val streamed = spark.table(qname)
    val batch = Tables.df(spark, Sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming aggregate diverged from batch")
  }

  test("MisraGries sketch aggregates incrementally over a stream, batch-equivalent guarantee") {
    // The same mergeable Aggregator that serves t17 in batch runs as a
    // streaming aggregation unchanged — MG's merge IS the state update,
    // so corpus stats maintain incrementally (the IVM story for
    // sketches). The guarantee (presence of >N/(k+1) items) must hold
    // on the streamed result exactly as in batch.
    import spark.implicits._
    val landing = tempDir("graft_mg_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/documents.parquet"),
      landing.resolve("batch0.parquet"))
    val schema = spark.read.parquet(s"$Sf/documents.parquet").schema
    spark.udf.register("mg32", udaf(new graft.functions.MisraGries(32)))
    val stream = spark.readStream.schema(schema).parquet(landing.toString)
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
      .groupBy().agg(expr("mg32(w)").as("sketch"))
    val q = stream.writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    val sketch = spark.table("mg_stream").head.getMap[String, Long](0)
    val words = Tables.df(spark, Sf, "documents")
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
    val n = words.count()
    val guaranteed = words.groupBy("w").count()
      .filter(col("count") > n / 33).collect().map(_.getString(0))
    assert(guaranteed.nonEmpty, "fixture must have at least one >N/33 word")
    guaranteed.foreach(w =>
      assert(sketch.contains(w), s"streamed sketch lost guaranteed item $w"))
    assert(sketch.size <= 32)
  }

  test("watermark drops rows later than the threshold (append-mode windowed agg)") {
    // the state-eviction contract: once the watermark passes a window's
    // end and the window is emitted, a straggler for it is DROPPED, not
    // double-counted — the semantics that bound state size at 100 TB
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      input.addData((ts("2024-01-01 10:15:00"), 1L), (ts("2024-01-01 10:45:00"), 2L))
      q.processAllAvailable()
      // advance the watermark past 11:00 so the 10:00 window closes + emits
      input.addData((ts("2024-01-01 13:00:00"), 3L))
      q.processAllAvailable()
      // straggler for the CLOSED 10:00 window — must be dropped
      input.addData((ts("2024-01-01 10:50:00"), 4L))
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("late_test")
      .select(col("window.start").cast("string").as("w"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(emitted("2024-01-01 10:00:00") == 2L,
      s"late row was not dropped (or window re-emitted): $emitted")
  }

  test("flatMapGroupsWithState sessionization: gap closes in-batch, watermark closes cross-batch") {
    // the arbitrary-state operator family (mapGroupsWithState /
    // flatMapGroupsWithState): per-user open sessions live in the state
    // store and close EXACTLY when (a) a later event arrives past the
    // gap, or (b) the event-time watermark passes last+gap — after which
    // no admissible late event could reopen them. Semantics ≡ e02.
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.{Closed, Ev}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def ms(s: String) = ts(s).getTime
    val events = input.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts")).as[Ev]
    val q = StatefulSessions.closedSessions(events, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_state_test")
      .outputMode("append").start()
    try {
      // user 1: three events 5 min apart (one session), user 2: singleton
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:05:00"), 1L),
        (ts("2024-01-01 10:10:00"), 1L), (ts("2024-01-01 10:02:00"), 2L))
      q.processAllAvailable()
      // user 1 returns 90 min later: the IN-BATCH gap closes session A
      // immediately. The same batch advances the watermark to 11:30,
      // which passes user 2's last+gap (10:32) — so the TIMEOUT path
      // closes the singleton in the very same trigger.
      input.addData((ts("2024-01-01 11:40:00"), 1L))
      q.processAllAvailable()
      val afterGap = spark.table("sess_state_test").as[Closed].collect().toSet
      assert(afterGap == Set(
        Closed(1L, ms("2024-01-01 10:00:00"), ms("2024-01-01 10:10:00"), 3L),
        Closed(2L, ms("2024-01-01 10:02:00"), ms("2024-01-01 10:02:00"), 1L)),
        s"expected gap-closure of user 1's session A + timeout of user 2's singleton: $afterGap")
      // advance the watermark far past everyone's last+gap: the TIMEOUT
      // path closes user 2's singleton and user 1's open second session
      input.addData((ts("2024-01-01 15:00:00"), 3L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 18:00:00"), 3L))
      q.processAllAvailable()
    } finally q.stop()
    val all = spark.table("sess_state_test").as[Closed].collect().toSet
    assert(all.contains(Closed(2L, ms("2024-01-01 10:02:00"), ms("2024-01-01 10:02:00"), 1L)),
      s"watermark timeout must close user 2's singleton: $all")
    assert(all.contains(Closed(1L, ms("2024-01-01 11:40:00"), ms("2024-01-01 11:40:00"), 1L)),
      s"watermark timeout must close user 1's reopened session: $all")
  }

  test("stateful sessionization fold ≡ the e02 batch window segmentation") {
    // the same fold applied per-user over the whole events table (batch
    // iterator, no timeouts) must reproduce e02's session counts exactly
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.Ev
    import spark.implicits._
    val gap = 30
    val byUser = Tables.df(spark, Sf, "events")
      .select(col("user_id"), col("ts")).as[Ev]
      .collect().groupBy(_.user_id)
    val foldCounts = byUser.map { case (u, evs) =>
      // replay the fold: sessions = 1 + number of gap-exceeding steps
      val sorted = evs.map(_.ts.getTime).sorted
      val splits = sorted.sliding(2).count(w =>
        w.length == 2 && w(1) - w(0) > StatefulSessions.gapMs(gap))
      u -> (splits + 1L, evs.length.toLong)
    }
    val e02 = SparkEntry.queries("e02_sessionize")(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(foldCounts == e02,
      s"fold segmentation diverges from e02: fold=$foldCounts e02=$e02")
  }

  test("mapGroupsWithState EWMA over time-split micro-batches ≡ the e15 batch fold") {
    // e15's recurrence is a left fold, so it must compose across
    // micro-batches: state carries the running ewma, each batch folds
    // its (ts, event_id)-sorted values on top. Split the corpus at the
    // median second (ties never straddle the cut) into two files
    // streamed in order — the streamed per-user result must equal the
    // batch query bit-for-bit before rounding.
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val ev = Tables.df(spark, Sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val cut = ev.agg(expr("percentile_approx(CAST(ts AS LONG), 0.5)")).head.getLong(0)
    val landing = tempDir("graft_ewma")
    ev.filter(expr(s"CAST(ts AS LONG) <= $cut")).coalesce(1)
      .write.parquet(landing.resolve("b0").toString)
    ev.filter(expr(s"CAST(ts AS LONG) > $cut")).coalesce(1)
      .write.parquet(landing.resolve("b1").toString)
    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing.toString + "/*")
      .select(col("user_id"), unix_millis(col("ts")).as("tsMs"),
        col("event_id"), col("value")).as[E]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[E], st: org.apache.spark.sql.streaming.GroupState[Double]) => {
          val sorted = it.toSeq.sortBy(e => (e.tsMs, e.event_id))
          var acc = st.getOption
          sorted.foreach { e =>
            acc = Some(acc.fold(e.value)(a => 0.2 * e.value + 0.8 * a))
          }
          st.update(acc.get)
          (uid, acc.get)
        })
      .toDF("user_id", "ewma")
    val qname = "stream_ewma"
    val q = stream.writeStream.format("memory").queryName(qname)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // last update per user is the final state
    val streamed = spark.table(qname).collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.last.getDouble(1) }
    val batch = SparkEntry.queries("e15_ewma")(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (u, e) =>
      assert(math.abs(BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        - batch(u)) < 1e-9, s"user $u: streamed $e vs batch ${batch(u)}")
    }
  }

  test("dropDuplicatesWithinWatermark dedupes retries, keeps distinct ids, bounds state") {
    // streaming exact dedup — the incremental rendition of d01: an
    // at-least-once source redelivers events; dedup state is evicted once
    // the watermark passes, so state size is bounded by the delay window
    // (without the watermark variant, dedup state grows forever)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = input.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_wm_test")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // id 1 delivered twice in-batch, id 2 once
      input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:01:00"), 1L),
        (ts("2024-01-01 10:02:00"), 2L))
      q.processAllAvailable()
      // cross-batch retry of id 1 while its state is still live — dropped
      input.addData((ts("2024-01-01 10:10:00"), 1L))
      q.processAllAvailable()
      // advance the watermark far past the delay → id 1's state evicts;
      // a redelivery AFTER eviction passes through (the documented
      // bounded-state contract: dedup-within-watermark, not forever)
      input.addData((ts("2024-01-01 14:00:00"), 3L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 14:05:00"), 1L))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_wm_test").groupBy(col("event_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids(2L) == 1L && ids(3L) == 1L, s"distinct ids must survive: $ids")
    assert(ids(1L) == 2L,
      s"id 1: expected exactly one emit per watermark window (2 total): $ids")
  }

  test("stream-stream interval join: bounded state, late rows dropped, batch-equivalent") {
    // the streaming e04 funnel: signup ⋈ purchase within a 1 h attribution
    // window, both sides watermarked. Contract pinned here: (a) matches
    // emit incrementally; (b) once the global watermark passes a signup's
    // window its state evicts and a late purchase finds NOTHING (bounded
    // state — the only way a stream-stream join survives 100 TB/day);
    // (c) on the in-time rows the streamed result ≡ the batch join run
    // through the SAME code path.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val signups = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val purchases = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    def named(df: org.apache.spark.sql.DataFrame) = df.toDF("ts", "user_id")
    val joined = graft.streaming.StreamJoins.attributedPurchases(
      named(signups.toDF()), named(purchases.toDF()), "1 hour", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // u1 purchases inside the window; u2's purchase is outside (+1 h 30 m)
      signups.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L),
        (ts("2024-01-01 10:00:00"), 3L))
      purchases.addData((ts("2024-01-01 10:20:00"), 1L), (ts("2024-01-01 11:30:00"), 2L))
      q.processAllAvailable()
      // advance BOTH watermarks (global watermark = min over inputs) far
      // past 11:00 + delay → the 10:00 signup state evicts
      signups.addData((ts("2024-01-01 15:00:00"), 99L))
      purchases.addData((ts("2024-01-01 15:00:00"), 98L))
      q.processAllAvailable()
      // u3's in-window purchase arrives AFTER eviction — must not match
      purchases.addData((ts("2024-01-01 10:30:00"), 3L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ss_join_test")
      .select(col("user_id"), col("purchase_ts").cast("string").as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(streamed == Set(1L -> "2024-01-01 10:20:00"),
      s"expected exactly u1's in-time match (u2 out of window, u3 post-eviction): $streamed")

    // batch equivalence through the same operator, on the in-time rows
    val bs = Seq((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L),
      (ts("2024-01-01 10:00:00"), 3L), (ts("2024-01-01 15:00:00"), 99L)).toDF("ts", "user_id")
    val bp = Seq((ts("2024-01-01 10:20:00"), 1L), (ts("2024-01-01 11:30:00"), 2L),
      (ts("2024-01-01 15:00:00"), 98L)).toDF("ts", "user_id")
    val batch = graft.streaming.StreamJoins.attributedPurchases(bs, bp, "1 hour", "10 minutes")
      .select(col("user_id"), col("purchase_ts").cast("string").as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(batch == streamed, s"stream/batch divergence: batch=$batch streamed=$streamed")
  }

  test("stream-stream LEFT OUTER join: negative verdicts emit only after the watermark") {
    // e04's "signed up but never converted" rows, streaming: an
    // unmatched signup emits null-padded exactly once, and only when
    // the watermark proves no purchase can still arrive in its window.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val signups = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val purchases = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val joined = graft.streaming.StreamJoins.attributionOutcomes(
      signups.toDF().toDF("ts", "user_id"), purchases.toDF().toDF("ts", "user_id"),
      "1 hour", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_louter_test")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def emitted() = spark.table("ss_louter_test")
      .select(col("user_id"), col("converted"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSet
    try {
      signups.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
      purchases.addData((ts("2024-01-01 10:20:00"), 1L), (ts("2024-01-01 11:30:00"), 2L))
      q.processAllAvailable()
      // u1's match emits eagerly; u2's "no conversion" verdict must NOT
      // have emitted yet — its window is still open at watermark ~9:50
      assert(emitted() == Set(1L -> 1),
        s"only the positive match may emit before the watermark: ${emitted()}")
      // push both watermarks past 11:00 + delay → u2's window closes
      signups.addData((ts("2024-01-01 15:00:00"), 99L))
      purchases.addData((ts("2024-01-01 15:00:00"), 98L))
      q.processAllAvailable()
      // one more batch: outer-join null emission happens on the state
      // cleanup AFTER the batch that advanced the watermark
      signups.addData((ts("2024-01-01 15:10:00"), 97L))
      purchases.addData((ts("2024-01-01 15:10:00"), 96L))
      q.processAllAvailable()
      assert(emitted().contains(2L -> 0),
        s"unmatched signup must emit null-padded after its window closes: ${emitted()}")
      assert(emitted().count(_._1 == 2L) == 1, s"u2 must emit exactly once: ${emitted()}")
    } finally q.stop()
  }

  test("IVM retraction is the inverse of the delta add (sub then add = identity)") {
    import graft.streaming.IvmMatview._
    val events = Tables.df(spark, Sf, "events")
    val full = partialState(events)
    val delta = partialState(events.filter(col("event_id") % 5 === 0))
    val roundTrip = applyDelta(applyRetraction(full, delta), delta)
    val a = full.collect().map(_.toSeq).toSet
    val b = roundTrip.collect().map(_.toSeq).toSet
    assert(a == b, "IVM_SUB followed by IVM_ADD of the same delta must restore the state")
  }

  test("algebraic IVM: variance state folds ≡ one-shot, and retraction inverts the add") {
    import graft.streaming.AlgebraicIvm._
    val events = Tables.df(spark, Sf, "events")
    val oneShot = partialState(events)
    val batches = (0 to 2).map(k => events.filter(col("event_id") % 3 === k))
    val folded = batches.tail.foldLeft(partialState(batches.head)) {
      (st, d) => applyDelta(st, partialState(d))
    }
    assert(oneShot.exceptAll(folded).isEmpty && folded.exceptAll(oneShot).isEmpty,
      "3-batch fold of (n, Σc, Σc²) must equal the one-shot state")
    val delta = partialState(events.filter(col("event_id") % 5 === 0))
    val roundTrip = applyDelta(applyRetraction(oneShot, delta), delta)
    val a = oneShot.collect().map(_.toSeq).toSet
    val b = roundTrip.collect().map(_.toSeq).toSet
    assert(a == b, "variance-state SUB then ADD of the same delta must restore the state")
  }

  test("min/max IVM retraction recomputes ONLY affected groups, ≡ batch over survivors") {
    import graft.streaming.MinMaxIvm
    val events = Tables.df(spark, Sf, "events")
    val deleted = events.filter(col("event_id") % 7 === 0)
    val survivors = events.filter(col("event_id") % 7 =!= 0)
    val st = MinMaxIvm.state(events).localCheckpoint(true)
    val (newState, affectedKeys, recomputed) = MinMaxIvm.applyRetraction(st, deleted, survivors)
    // the IVM correctness condition: retracted state ≡ one-shot batch
    val batch = MinMaxIvm.state(survivors)
    assert(newState.exceptAll(batch).isEmpty && batch.exceptAll(newState).isEmpty,
      "min/max retraction must equal the batch aggregate over survivors")
    // partial recompute: the affected key set is a strict subset of the
    // view, and the rescan branch emitted at most one row per affected key
    val nGroups = st.count()
    val nAffected = affectedKeys.count()
    assert(nAffected < nGroups,
      s"recalculation must not touch every group ($nAffected of $nGroups)")
    assert(recomputed.count() <= nAffected,
      "recompute branch must be bounded by the affected key set")
    // carried-forward groups really carried: every unaffected state row
    // appears in the new state with only its count adjusted
    val carried = newState.join(affectedKeys, Seq("user_id", "event_type"), "left_anti")
    val stCarried = st.join(affectedKeys, Seq("user_id", "event_type"), "left_anti")
      .select(col("user_id"), col("event_type"), col("min_c"), col("max_c"))
    assert(carried.select("user_id", "event_type", "min_c", "max_c")
      .exceptAll(stCarried).isEmpty,
      "unaffected groups must carry their extremes forward unchanged")
  }

  test("min/max IVM: micro-batched delete stream composes to the one-shot retraction") {
    import graft.streaming.MinMaxIvm
    val events = Tables.df(spark, Sf, "events")
    val allDeleted = events.filter(col("event_id") % 7 === 0)
    // the delete stream arrives in 3 micro-batches; state folds forward,
    // survivors shrink batch by batch (what a foreachBatch sink sees)
    var state = MinMaxIvm.state(events).localCheckpoint(true)
    var removed = events.filter(lit(false))
    for (k <- 0 to 2) {
      val batch = allDeleted.filter(pmod(col("event_id"), lit(3)) === k)
      removed = removed.unionByName(batch)
      val survivors = events.exceptAll(removed)
      val (next, _, _) = MinMaxIvm.applyRetraction(state, batch, survivors)
      state = next.localCheckpoint(true)
    }
    val oneShot = MinMaxIvm.state(events.filter(col("event_id") % 7 =!= 0))
    assert(state.exceptAll(oneShot).isEmpty && oneShot.exceptAll(state).isEmpty,
      "3-batch retraction fold must equal the one-shot retracted state")
  }

  test("IVM state merge is associative: 2-batch and 4-batch folds agree") {
    import graft.streaming.IvmMatview._
    val events = Tables.df(spark, Sf, "events")
    val two = (0 to 1).map(k => events.filter(col("event_id") % 2 === k))
    val four = (0 to 3).map(k => events.filter(col("event_id") % 4 === k))
    def fold(bs: Seq[org.apache.spark.sql.DataFrame]) =
      finalizeState(bs.tail.foldLeft(partialState(bs.head)) {
        (st, d) => applyDelta(st, partialState(d))
      })
    val a = fold(two)
    val b = fold(four)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("join-IVM folds are batch-count invariant: 2-batch and 3-batch agree with one-shot") {
    import graft.streaming.JoinIvm
    val a = Tables.df(spark, Sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val b = Tables.df(spark, Sf, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    def fold(parts: Int) = {
      def aB(k: Int) = a.filter(pmod(col("o_custkey"), lit(parts)) === k)
      def bB(k: Int) = b.filter(pmod(col("l_linenumber"), lit(parts)) === k)
      val st = (1 until parts).foldLeft(JoinIvm.init(aB(0), bB(0), Seq("o_orderkey"))) {
        (st, k) => JoinIvm.applyDelta(st, aB(k), bB(k), Seq("o_orderkey"))
      }
      st.j.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
    }
    val oneShot = a.join(b, Seq("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
    val f2 = fold(2).collect().map(_.toSeq).toSet
    val f3 = fold(3).collect().map(_.toSeq).toSet
    val os = oneShot.collect().map(_.toSeq).toSet
    assert(f2 == os && f3 == os,
      s"join-IVM fold diverged from the one-shot join:\n2: $f2\n3: $f3\n1: $os")
  }

  test("foreachBatch partial-state sink is exactly-once under batch replay") {
    // at-least-once delivery × idempotent per-batchId overwrite =
    // exactly-once: replaying a batch (same batchId) must not change the
    // folded state; a NEW batchId must fold in.
    val target = tempDir("graft_sink").toString
    val landing = tempDir("graft_sink_in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/events.parquet"), landing.resolve("batch0.parquet"))
    val sink = new graft.streaming.PartialStateSink(spark, target)
    val schema = spark.read.parquet(s"$Sf/events.parquet").schema
    val q = spark.readStream.schema(schema).parquet(landing.toString)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => sink.upsertBatch(df, id))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        tempDir("graft_sink_ck").toString)
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)

    val events = Tables.df(spark, Sf, "events")
    def state() = sink.read().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val afterRun = state()
    val expected = graft.streaming.IvmMatview.partialState(events).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(afterRun == expected, "streamed fold diverged from the batch aggregate")

    // REPLAY batch 0 (a retry after a simulated sink failure): no change
    sink.upsertBatch(events, 0L)
    assert(state() == afterRun, "replaying an already-landed batchId must be a no-op")

    // a genuinely new batch folds in
    val delta = events.filter(col("event_id") % 10 === 0)
    sink.upsertBatch(delta, 1L)
    val folded = graft.streaming.IvmMatview.applyDelta(
      graft.streaming.IvmMatview.partialState(events),
      graft.streaming.IvmMatview.partialState(delta)).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(state() == folded, "new batchId must fold into the state")
  }

  test("scheduler drives dynamic-table refreshes; missed ticks catch up in one run") {
    import graft.streaming.{DynamicTable, RefreshScheduler}
    val base = tempDir("graft_sched")
    val src = base.toString + "/src"
    val dst = base.toString + "/dt"
    def appendBatch(tag: Int, rows: Seq[(Long, Long)]): Unit =
      spark.createDataFrame(rows).toDF("k", "v")
        .write.mode("append").parquet(src)
    def batchAnswer() = spark.read.parquet(src)
      .groupBy(col("k")).agg(sum(col("v")).as("total"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    appendBatch(0, Seq((1L, 10L), (2L, 20L)))
    val dt = new DynamicTable(spark, dst,
      () => spark.read.parquet(src).groupBy(col("k")).agg(sum(col("v")).as("total")))
    def materialized() = dt.read()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sched = new RefreshScheduler(dt, intervalMs = 1000L)
    // tick 1 fires and converges to the batch answer
    assert(sched.tick(0L) && materialized() == batchAnswer())
    // mid-interval tick is NOT due — no refresh, stale data visible
    appendBatch(1, Seq((1L, 5L)))
    assert(!sched.tick(500L) && sched.refreshCount == 1L)
    assert(materialized() == Map(1L -> 10L, 2L -> 20L), "refresh ran early")
    // tick 2 at the boundary fires and converges again
    assert(sched.tick(1000L) && materialized() == batchAnswer())
    // downtime skips 4 scheduled firings → exactly ONE catch-up run that
    // still reaches the current answer (pg_cron missed-job semantics)
    appendBatch(2, Seq((3L, 7L)))
    assert(sched.tick(6000L) && sched.refreshCount == 3L)
    assert(materialized() == batchAnswer())
    assert(!sched.tick(6100L), "catch-up must not double-fire")
  }

  test("scheduler tick drives an AvailableNow streaming refresh (incremental dynamic table)") {
    import graft.streaming.RefreshScheduler
    import org.apache.spark.sql.streaming.Trigger
    val base = tempDir("graft_dtstream")
    val landing = base.resolve("in"); java.nio.file.Files.createDirectories(landing)
    val ckpt = base.resolve("ckpt").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/events.parquet"), landing.resolve("batch0.parquet"))
    val schema = spark.read.parquet(s"$Sf/events.parquet").schema
    // the refresh action: drain ONLY new files into the checkpointed
    // aggregate state and re-emit the full materialization (complete
    // mode) — the incremental half the batch DynamicTable recomputes
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(landing.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 10000) AS BIGINT)")).as("cents"))
        .writeStream.format("memory").queryName("dt_stream")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    def batchAnswer() = spark.read.parquet(landing.toString)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 10000) AS BIGINT)")).as("cents"))
      .collect().map(_.toSeq).toSet
    val sched = new RefreshScheduler(() => drain(), intervalMs = 1000L)
    assert(sched.tick(0L))
    assert(spark.table("dt_stream").collect().map(_.toSeq).toSet == batchAnswer())
    // a second batch lands; the due tick folds ONLY the delta (the state
    // store carries batch0's partials) yet emits the full batch answer.
    // The delta must land as a FLAT file — the file stream source does
    // not recurse into subdirectories.
    val stage = base.resolve("stage").toString
    spark.read.parquet(s"$Sf/events.parquet")
      .filter(col("event_id") % 3 === 0).withColumn("value", col("value") * 2)
      .coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, landing.resolve("batch1.parquet"))
    assert(sched.tick(1000L))
    assert(spark.table("dt_stream").collect().map(_.toSeq).toSet == batchAnswer())
  }

  test("dynamic table refresh is idempotent and atomic-overwrite") {
    import graft.streaming.DynamicTable
    val path = tempDir("graft_dt").toString + "/dt"
    val dt = new DynamicTable(spark, path,
      () => Tables.df(spark, Sf, "nation").groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n")))
    dt.refresh()
    val first = dt.read().collect().toSet
    dt.refresh() // second cycle must not duplicate or corrupt
    val second = dt.read().collect().toSet
    assert(first == second && first.nonEmpty)
  }

  test("i11 streamed: per-micro-batch index probes compose to the batch verdict") {
    // The production rendition of i11: the band index persists, each
    // ingest micro-batch fingerprints ONLY its own docs (O(|Δ|)) and
    // probes the index via foreachBatch. The union of per-batch verdicts
    // must equal the one-shot batch relation — the IVM condition.
    import graft.operators.Dedup
    val bands = Dedup.minhashBands(spark, Sf).localCheckpoint()
    val isDelta = col("doc_id") % 10 === 7
    val index = bands.filter(!isDelta).localCheckpoint()
    val idxStats = index.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("hub"))
      .localCheckpoint()
    // land the delta docs as two parquet files -> two micro-batches
    val docs = Tables.df(spark, Sf, "documents")
    val delta = docs.filter(isDelta)
    val median = delta.selectExpr("percentile(doc_id, 0.5)").head.getDouble(0)
    val landing = tempDir("graft_i11_stream").toString
    delta.filter(col("doc_id") <= median).coalesce(1).write.parquet(s"$landing/b0")
    delta.filter(col("doc_id") > median).coalesce(1).write.parquet(s"$landing/b1")
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Long])]
    val q = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$landing/*")
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val probe = Dedup.bandsOfFps(Dedup.shingleFpsOf(batch))
        val matches = probe
          .join(index.select(col("band"), col("band_key"), col("doc_id").as("base_id")),
            Seq("band", "band_key"))
          .join(idxStats, Seq("band", "band_key"))
          .filter(col("n") <= Dedup.BandBucketCap || col("base_id") === col("hub"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("base_id")).as("cnt"), min(col("base_id")).as("keeper_id"))
        val out = batch.select(col("doc_id")).join(matches, Seq("doc_id"), "left")
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))
        verdicts.synchronized { verdicts ++= out }
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    val batchResult = SparkEntry.queries("i11_incremental_dedup")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(verdicts.toSet == batchResult,
      "streamed per-batch probes must reproduce the batch verdict relation")
    assert(verdicts.nonEmpty && verdicts.map(_._1).distinct.size == verdicts.size,
      "each delta doc verdicts exactly once across micro-batches")
  }

  test("i17 streamed: per-micro-batch span probes + state folds compose to the batch result") {
    // The production rendition of i17: the window index/census persist,
    // each ingest micro-batch probes in O(|Δ|) via foreachBatch and then
    // FOLDS into the state (appendSpanState), so the next batch probes
    // base ∪ earlier batches. Changed-coverage rows compose by
    // last-write-wins per doc (a doc re-affected by a later batch is
    // re-emitted with its updated row; a fp moving nd 2→3 changes no
    // coverage, so un-re-emitted rows stay final) — and the composed
    // relation must equal the one-shot i17 query exactly.
    import graft.operators.Dedup
    val docs = Tables.df(spark, Sf, "documents")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    var state = Dedup.buildSpanState(base)
    val median = delta.selectExpr("percentile(doc_id, 0.5)").head.getDouble(0)
    val landing = tempDir("graft_i17_stream").toString
    delta.filter(col("doc_id") <= median).coalesce(1).write.parquet(s"$landing/b0")
    delta.filter(col("doc_id") > median).coalesce(1).write.parquet(s"$landing/b1")
    val composed = scala.collection.mutable.Map.empty[Long, Seq[Any]]
    var batches = 0
    val q = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$landing/*")
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // state is read AND written under the monitor: consecutive
        // micro-batches may run on different threads, so the read at
        // the top of batch k+1 needs the edge from batch k's fold too
        val st = composed.synchronized(state)
        val out = Dedup.spanDedupProbe(st, batch).collect()
        composed.synchronized {
          out.foreach(r => composed(r.getLong(0)) = r.toSeq)
          batches += 1
          state = Dedup.appendSpanState(st, batch)
        }
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    assert(composed.synchronized(batches) == 2,
      s"expected two micro-batches, got $batches")
    val oneShot = SparkEntry.queries("i17_span_dedup_incremental")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    // acquire the same monitor the stream thread released: the formal
    // happens-before edge for both the map contents and the state var
    val (composedSnap, finalState) = composed.synchronized((composed.toMap, state))
    assert(composedSnap.nonEmpty, "streamed probes emitted nothing")
    assert(composedSnap == oneShot,
      "last-write-wins composition of streamed probes must equal the one-shot i17 relation")
    // and the folded state equals the from-scratch full-corpus state
    val scratch = Dedup.buildSpanState(docs)
    assert(finalState.census.collect().map(_.toString).sorted.toSeq ==
      scratch.census.collect().map(_.toString).sorted.toSeq,
      "state after both folds must equal the from-scratch census")
  }

  test("i18 streamed: micro-batched deletes + retraction folds compose to the one-shot retraction") {
    // The deletion symmetry of the i17 composition proof (r14 verdict
    // #5): deletes arrive as micro-batches of doc_ids via foreachBatch;
    // each batch emits the affected survivors' post-delete rows
    // (spanDedupRetract) and then FOLDS into the state
    // (retractSpanState), so the next batch retracts against the
    // already-shrunk state. Rows compose by last-write-wins per doc,
    // MINUS docs deleted by a later batch (a delete retracts the doc's
    // own earlier emission downstream); un-re-emitted rows are final
    // because deletion never raises a fp's holder count, so a doc that
    // batch k left alone keeps its coverage until some later batch
    // flips one of ITS fps — which re-emits it. The composed relation
    // must equal the one-shot i18 retraction exactly.
    import graft.operators.Dedup
    val docs = Tables.df(spark, Sf, "documents")
    val deleted = docs.filter(col("doc_id") % 5 === 3).select("doc_id")
    var state = Dedup.buildSpanState(docs)
    val median = deleted.selectExpr("percentile(doc_id, 0.5)").head.getDouble(0)
    val landing = tempDir("graft_i18_stream").toString
    deleted.filter(col("doc_id") <= median).coalesce(1).write.parquet(s"$landing/b0")
    deleted.filter(col("doc_id") > median).coalesce(1).write.parquet(s"$landing/b1")
    val composed = scala.collection.mutable.Map.empty[Long, Seq[Any]]
    var batches = 0
    val q = spark.readStream.schema(deleted.schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$landing/*")
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = batch.select("doc_id").collect().map(_.getLong(0))
        // state is read AND written under the monitor (mirror i17, r16
        // advice): consecutive micro-batches may run on different
        // threads, so the probe read at the top of batch k+1 needs the
        // happens-before edge from batch k's fold
        val st = composed.synchronized(state)
        val out = Dedup.spanDedupRetract(st, batch.select("doc_id")).collect()
        composed.synchronized {
          ids.foreach(composed.remove) // the delete retracts earlier emissions
          out.foreach(r => composed(r.getLong(0)) = r.toSeq)
          batches += 1
          state = Dedup.retractSpanState(st, batch.select("doc_id"))
        }
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    assert(composed.synchronized(batches) == 2,
      s"expected two delete micro-batches, got $batches")
    val oneShot = SparkEntry.queries("i18_span_dedup_retract")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    // same-monitor acquire for the formal happens-before edge
    val (composedSnap, finalState) = composed.synchronized((composed.toMap, state))
    assert(composedSnap.nonEmpty, "streamed retractions emitted nothing")
    assert(composedSnap == oneShot,
      "last-write-wins composition of streamed retractions must equal the one-shot i18 relation")
    // and the folded state equals the state built from the survivors
    val scratch = Dedup.buildSpanState(docs.filter(col("doc_id") % 5 =!= 3))
    assert(finalState.census.collect().map(_.toString).sorted.toSeq ==
      scratch.census.collect().map(_.toString).sorted.toSeq,
      "state after both delete folds must equal the from-scratch survivor census")
  }
}

object StreamingSpec {
  /** file-scope so Spark's product encoder can instantiate it without an
    * outer-class scope (see the mapGroupsWithState EWMA test) */
  case class E(user_id: Long, tsMs: Long, event_id: Long, value: Double)
}
