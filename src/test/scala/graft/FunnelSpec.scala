package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Funnel

/** Model check of [[graft.ops.Funnel]]: the chained min-agg dataflow
  * against a driver-side greedy sequential walk — per entity, sort
  * events, take the earliest step-1 event, then the earliest step-2
  * event strictly after it, and so on. Random streams cover ties in
  * the primary order column (broken by the unique id — positions must
  * stay engine-portable), entities missing early or late steps, empty
  * step types, and repeated types in the step list. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private case class Ev(ent: Long, ty: String, t: Long, id: Long)

  private val evGen: Gen[List[Ev]] = for {
    n <- Gen.choose(0, 40)
    evs <- Gen.listOfN(n, for {
      ent <- Gen.choose(0L, 4L)
      ty <- Gen.oneOf("a", "b", "c", "d")
      t <- Gen.choose(0L, 9L) // dense → plenty of ties on t
    } yield (ent, ty, t))
  } yield evs.zipWithIndex.map { case ((e, ty, t), i) => Ev(e, ty, t, i.toLong) }

  private val stepsGen: Gen[List[String]] = for {
    k <- Gen.choose(1, 3)
    st <- Gen.listOfN(k, Gen.oneOf("a", "b", "c"))
  } yield st

  /** Greedy sequential walk over the (t, id)-sorted stream. */
  private def model(evs: List[Ev], steps: List[String])
      : Map[Long, (List[Option[Long]], Long)] =
    evs.groupBy(_.ent).flatMap { case (ent, es) =>
      val sorted = es.sortBy(e => (e.t, e.id))
      val pos = sorted.zipWithIndex.map { case (e, i) => (e.ty, i + 1L) }
      var prev = 0L
      val ps = steps.map { ty =>
        val hit = pos.find { case (ety, p) => ety == ty && p > prev }
        hit.foreach { case (_, p) => prev = p }
        // a missed step ends the funnel: later steps stay null even if
        // their type occurs (pos > prev would wrongly restart from the
        // last completed step otherwise)
        if (hit.isEmpty) prev = Long.MaxValue
        hit.map(_._2)
      }
      if (ps.head.isEmpty) None
      else Some(ent -> (ps, ps.count(_.isDefined).toLong))
    }

  test("steps equals the greedy sequential walk for random streams") {
    val prop = Prop.forAll(evGen, stepsGen) { (evs, steps) =>
      val df = evs.map(e => (e.ent, e.ty, e.t, e.id))
        .toDF("ent", "ty", "t", "id")
      val out = Funnel.steps(df, "ent", "ty", steps, Seq("t", "id")).collect()
      val got = out.map { r =>
        val ps = steps.indices.map(i =>
          Option(r.getAs[java.lang.Long](s"p${i + 1}")).map(_.toLong)).toList
        r.getAs[Long]("ent") -> (ps, r.getAs[Long]("depth"))
      }.toMap
      val want = model(evs, steps)
      if (got != want)
        println(s"MISMATCH steps=$steps evs=$evs\n got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("stepsByKey chooses the same events as steps for random streams") {
    val prop = Prop.forAll(evGen, stepsGen) { (evs, steps) =>
      val df = evs.map(e => (e.ent, e.ty, e.t, e.id, e.t * 1000L + e.id))
        .toDF("ent", "ty", "t", "id", "k")
      val byPos = Funnel.steps(df, "ent", "ty", steps, Seq("t", "id"))
        .collect().map(r => r.getAs[Long]("ent") -> r).toMap
      val byKey = Funnel.stepsByKey(df, "ent", "ty", steps, "k")
        .collect().map(r => r.getAs[Long]("ent") -> r).toMap
      // per entity: position i and key i must denote the SAME event
      // (translate positions to keys through the sorted stream), and
      // depth must agree
      val keyAt = evs.groupBy(_.ent).map { case (ent, es) =>
        ent -> es.sortBy(e => (e.t, e.id)).zipWithIndex
          .map { case (e, i) => (i + 1L) -> (e.t * 1000L + e.id) }.toMap
      }
      byPos.keySet == byKey.keySet && byPos.forall { case (ent, rp) =>
        val rk = byKey(ent)
        rp.getAs[Long]("depth") == rk.getAs[Long]("depth") &&
          steps.indices.forall { i =>
            val p = Option(rp.getAs[java.lang.Long](s"p${i + 1}"))
            val kv = Option(rk.getAs[java.lang.Long](s"k${i + 1}"))
            p.map(x => keyAt(ent)(x.toLong)) == kv.map(_.toLong)
          }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("Retention.cohorts equals the sequential model for random streams") {
    val gen = for {
      n <- Gen.choose(0, 50)
      evs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 99L)))
      period <- Gen.oneOf(7L, 10L, 25L)
    } yield (evs, period)
    val prop = Prop.forAll(gen) { case (evs, period) =>
      val got = graft.ops.Retention.cohorts(
        evs.toDF("ent", "t"), "ent", "t", period)
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val act = evs.map { case (e, t) => (e, t / period) }.distinct
      val first = act.groupBy(_._1).map { case (e, ps) => e -> ps.map(_._2).min }
      val want = act.groupBy { case (e, p) => (first(e), p - first(e)) }
        .map { case (cell, xs) => cell -> xs.size.toLong }
      if (got != want)
        println(s"MISMATCH period=$period evs=$evs\n got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("funnelFold is exact under ANY batch split and arrival order") {
    // the streaming funnel's whole claim: fold the same events in any
    // batching and any within/cross-batch order — the final chain must
    // equal the batch operator's greedy walk over the full stream
    import graft.streaming.ChangeStream.{FunnelEvent, funnelFold}
    val gen = for {
      evs <- evGen
      steps <- stepsGen
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (evs, steps, seed)
    val prop = Prop.forAll(gen) { case (evs, steps, seed) =>
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(evs)
      // random batch boundaries (possibly empty batches)
      val nBatches = 1 + rnd.nextInt(4)
      val batches = shuffled.zipWithIndex
        .groupBy { case (_, i) => rnd.nextInt(nBatches) }
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      val finals = evs.map(_.ent).distinct.flatMap { u =>
        var st: Option[graft.streaming.ChangeStream.FunnelProgress] = None
        var last: Option[graft.streaming.ChangeStream.FunnelUpd] = None
        batches.foreach { b =>
          val mine = b.filter(e => e.ent == u && steps.contains(e.ty))
            .map(e => FunnelEvent(Some(u), e.ty, e.t, e.id))
          if (mine.nonEmpty) {
            val (next, upd) = funnelFold(Some(u), steps, st, mine)
            st = Some(next)
            upd.foreach(x => last = Some(x))
          }
        }
        last.map(u -> _)
      }.toMap
      // compare against the greedy model through the key translation
      val want = model(evs, steps)
      val got = finals.map { case (u, f) =>
        u -> (f.ts_arr.zip(f.id_arr).map { case (t, i) =>
          Option((t, i)) }.toList
          .padTo(steps.size, Option.empty[(Long, Long)]), f.depth)
      }
      val wantK = want.map { case (u, (ps, d)) =>
        val keyAt = evs.filter(_.ent == u).sortBy(e => (e.t, e.id))
          .zipWithIndex.map { case (e, i) => (i + 1L) -> ((e.t, e.id)) }.toMap
        u -> (ps.map(_.map(keyAt)), d)
      }
      if (got != wantK)
        println(s"MISMATCH steps=$steps evs=$evs\n got=$got\n want=$wantK")
      got == wantK
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("funnelFoldTtl is exact over the watermark's survivors, state bounded") {
    // the TTL form's whole claim: under ANY batch split, arrival order,
    // and monotone watermark sequence, the final chain equals the batch
    // funnel over the SURVIVING events (arrival-dropped: ts_ms <= wm at
    // arrival), and after every fold the kept state holds no stale
    // event while the frozen prefix holds only matured picks
    import graft.streaming.ChangeStream.{FunnelEvent, FunnelProgress, funnelFold}
    val ord = implicitly[Ordering[(Long, Long)]]
    // greedy walk with an optional conversion window (anchor = first
    // pick): the TTL fold must stay exact when COMPOSED with the
    // window — freezing under a window is the subtle case (the frozen
    // anchor pins the window bound for all later steps)
    def greedy(sur: Seq[(String, (Long, Long))], steps: List[String],
        w: Long): List[(Long, Long)] = {
      var prev: Option[(Long, Long)] = None
      var anchor: Option[Long] = None
      var out = List.empty[(Long, Long)]
      var dead = false
      steps.foreach { ty =>
        if (!dead) {
          val cand = sur.filter(_._1 == ty).map(_._2)
            .filter(k => prev.forall(p => ord.gt(k, p)))
            .filter(k => anchor.forall(a => k._1 - a <= w))
          cand.sorted.headOption match {
            case Some(k) =>
              out :+= k; prev = Some(k)
              if (anchor.isEmpty) anchor = Some(k._1)
            case None => dead = true
          }
        }
      }
      out
    }
    val gen = for {
      evs <- evGen; steps <- stepsGen; seed <- Gen.choose(0L, Long.MaxValue)
      wRaw <- Gen.choose(0L, 12L); windowed <- Gen.oneOf(true, false)
    } yield (evs, steps, seed,
      if (windowed) wRaw * 1000000L else Long.MaxValue)
    val prop = Prop.forAll(gen) { case (evs, steps, seed, w) =>
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(evs)
      val nBatches = 1 + rnd.nextInt(4)
      val batches = shuffled.zipWithIndex
        .groupBy { case (_, i) => rnd.nextInt(nBatches) }
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      // monotone watermark per batch (Spark's: running max, ms units;
      // ts scaled ns = t * 1e6 so ms-floor lands back on t)
      var wmRun = -1L
      val wms = batches.map { _ =>
        wmRun = math.max(wmRun, rnd.nextInt(11) - 1L); wmRun
      }
      evs.map(_.ent).distinct.forall { u =>
        var st: Option[FunnelProgress] = None
        var last: Option[graft.streaming.ChangeStream.FunnelUpd] = None
        val survivors = scala.collection.mutable.ListBuffer
          .empty[(String, (Long, Long))]
        var ok = true
        batches.zip(wms).foreach { case (b, wm) =>
          val mine = b.filter(e => e.ent == u && steps.contains(e.ty))
            .map(e => FunnelEvent(Some(u), e.ty, e.t * 1000000L, e.id))
          survivors ++= mine.filter(_.ts / 1000000L > wm)
            .map(e => e.ty -> ((e.ts, e.id)))
          if (mine.nonEmpty) {
            val (next, upd) = funnelFold(Some(u), steps, st, mine, wm, w)
            st = Some(next)
            upd.foreach(x => last = Some(x))
            // state bound: nothing stale survives in the kept sets;
            // frozen holds only matured picks, contiguous from step 1
            ok &&= next.keys.values.flatten.forall(_._1 / 1000000L > wm)
            ok &&= next.frozen.forall(_._1 / 1000000L <= wm)
            ok &&= next.frozen.size <= steps.size
          }
        }
        val want = greedy(survivors.toList, steps, w)
        val got = last.map(f => f.ts_arr.zip(f.id_arr).toList).getOrElse(Nil)
        val pass = ok && got == want
        if (!pass) println(s"TTL MISMATCH u=$u steps=$steps wms=$wms " +
          s"evs=$evs\n got=$got\n want=$want ok=$ok")
        pass
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("NULL entities are dropped identically by all three funnel forms") {
    // r16 ADVICE divergence: before the shared entity-not-null filter,
    // the batch chain stranded a NULL entity at depth 1 (equi-joins
    // drop null keys) while the streaming fold advanced the None group
    // through every step. Contract now: a NULL entity identifies no
    // one — no form emits a row for it, and its presence never
    // perturbs real entities' chains.
    val withNull = Seq(
      (Option(1L), "a", 1L, 1L), (Option(1L), "b", 2L, 2L),
      (Option.empty[Long], "a", 3L, 3L), (Option.empty[Long], "b", 4L, 4L),
      (Option.empty[Long], "c", 5L, 5L))
    val st = List("a", "b", "c")
    val df = withNull.toDF("ent", "ty", "t", "id")
    val clean = df.filter("ent IS NOT NULL")

    val batch = Funnel.steps(df, "ent", "ty", st, Seq("t", "id"))
    assert(batch.filter("ent IS NULL").count() == 0L)
    assert(batch.collect().toSet ==
      Funnel.steps(clean, "ent", "ty", st, Seq("t", "id")).collect().toSet)

    val keyed = df.withColumn("k",
      org.apache.spark.sql.functions.expr("t * 100 + id"))
    val byKey = Funnel.stepsByKey(keyed, "ent", "ty", st, "k")
    assert(byKey.filter("ent IS NULL").count() == 0L)

    // streaming form over the same rows as a batch dataset — Spark
    // runs flatMapGroupsWithState in batch with empty initial state,
    // exercising the identical pre-state filter + fold path
    val raw = withNull.toDF("user_id", "event_type", "ts_ns", "event_id")
    val upd = graft.streaming.ChangeStream.streamingFunnel(raw, st).collect()
    assert(!upd.exists(_.user_id.isEmpty),
      s"streaming emitted a null-entity chain: ${upd.mkString(", ")}")
    assert(upd.map(u => u.user_id.get -> u.depth).toMap == Map(1L -> 2L))
  }

  test("stepsByKeyWithin equals the greedy-anchor model for random streams") {
    // conversion-window semantics: the anchor is the greedy-earliest
    // step-1 event; steps 2..k must land in (prev, anchor + W]. With
    // W = infinity this must equal stepsByKey; with random W the
    // driver-side model replays the same anchored walk.
    val gen = for {
      evs <- evGen; steps <- stepsGen; w <- Gen.choose(0L, 12L)
    } yield (evs, steps, w)
    val prop = Prop.forAll(gen) { case (evs, steps, w) =>
      val df = evs.map(e => (e.ent, e.ty, e.t, e.id))
        .toDF("ent", "ty", "t", "id")
        .withColumn("k",
          org.apache.spark.sql.functions.expr("t * 1000 + id"))
      val got = Funnel.stepsByKeyWithin(df, "ent", "ty", steps,
        "k", "t", withinNs = w)
        .select("ent", "depth").as[(Long, Long)].collect().toMap
      // model: anchored greedy walk over (t, id)-sorted events
      val want = evs.groupBy(_.ent).flatMap { case (ent, es) =>
        val sorted = es.filter(e => steps.contains(e.ty))
          .sortBy(e => (e.t, e.id))
        sorted.find(_.ty == steps.head).map { a =>
          var prevKey = (a.t, a.id)
          var depth = 1L
          var dead = false
          steps.drop(1).foreach { ty =>
            if (!dead) {
              sorted.find(e => e.ty == ty &&
                  implicitly[Ordering[(Long, Long)]]
                    .gt((e.t, e.id), prevKey) &&
                  e.t <= a.t + w) match {
                case Some(e) => depth += 1; prevKey = (e.t, e.id)
                case None => dead = true
              }
            }
          }
          ent -> depth
        }
      }
      if (got != want)
        println(s"WINDOW MISMATCH w=$w steps=$steps evs=$evs\n got=$got\n want=$want")
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("funnelFoldWithin is exact under ANY batch split and arrival order") {
    // the streaming conversion-window funnel's claim: fold the same
    // events in any batching/order — the final chain must equal the
    // batch stepsByKeyWithin's anchored greedy walk over the full
    // stream, INCLUDING the case where a late batch re-decides the
    // anchor and the window re-clips previously-emitted later steps
    import graft.streaming.ChangeStream.{FunnelEvent, FunnelProgress,
      FunnelUpd, funnelFold}
    val ord = implicitly[Ordering[(Long, Long)]]
    val gen = for {
      evs <- evGen; steps <- stepsGen; w <- Gen.choose(0L, 12L)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (evs, steps, w, seed)
    val prop = Prop.forAll(gen) { case (evs, steps, w, seed) =>
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(evs)
      val nBatches = 1 + rnd.nextInt(4)
      val batches = shuffled.zipWithIndex
        .groupBy { case (_, i) => rnd.nextInt(nBatches) }
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      var bounded = true
      val got = evs.map(_.ent).distinct.flatMap { u =>
        var st: Option[FunnelProgress] = None
        var last: Option[FunnelUpd] = None
        batches.foreach { b =>
          val mine = b.filter(e => e.ent == u && steps.contains(e.ty))
            .map(e => FunnelEvent(Some(u), e.ty, e.t, e.id))
          if (mine.nonEmpty) {
            val (next, upd) = funnelFold(Some(u), steps, st, mine, withinNs = w)
            st = Some(next)
            upd.foreach(x => last = Some(x))
            // window state bound: once an anchor exists, kept events
            // all sit inside [*, anchor + w] — the fold's whole claim
            // that per-user state is bounded by ONE conversion window
            upd.foreach { x =>
              val anchor = x.ts_arr.head
              bounded &&= next.keys.values.flatten
                .forall(k => k._1 - anchor <= w)
            }
          }
        }
        last.map(f => u -> f.ts_arr.zip(f.id_arr).toList)
      }.toMap
      if (!bounded)
        println(s"WINDOW STATE UNBOUNDED w=$w steps=$steps evs=$evs")
      // anchored greedy model over the FULL (t, id)-sorted stream
      val want = evs.groupBy(_.ent).flatMap { case (ent, es) =>
        val sorted = es.filter(e => steps.contains(e.ty))
          .sortBy(e => (e.t, e.id))
        sorted.find(_.ty == steps.head).map { a =>
          var prevKey = (a.t, a.id)
          var chain = List(prevKey)
          var dead = false
          steps.drop(1).foreach { ty =>
            if (!dead)
              sorted.find(e => e.ty == ty &&
                  ord.gt((e.t, e.id), prevKey) && e.t - a.t <= w) match {
                case Some(e) => prevKey = (e.t, e.id); chain :+= prevKey
                case None => dead = true
              }
          }
          ent -> chain
        }
      }
      if (got != want)
        println(s"WITHIN-FOLD MISMATCH w=$w steps=$steps evs=$evs\n" +
          s" got=$got\n want=$want")
      bounded && got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("step-1 prune: dead above-anchor events evicted; dup-step-type guard fails closed") {
    import graft.streaming.ChangeStream.{FunnelEvent, funnelFold}
    // distinct step types: the anchor is a MIN, so only the step-1
    // set's minimum is ever pickable — view@5 is dead weight and must
    // not survive the batch boundary (TODO r18 candidate 4)
    val (st1, _) = funnelFold(Some(1L), Seq("view", "click"), None, Seq(
      FunnelEvent(Some(1L), "view", 1L, 10L),
      FunnelEvent(Some(1L), "view", 5L, 11L)))
    assert(st1.keys("view") == Seq((1L, 10L)), st1.keys.toString)
    // ...and exactness survives the prune: the funnel still completes
    val (_, upd) = funnelFold(Some(1L), Seq("view", "click"), Some(st1), Seq(
      FunnelEvent(Some(1L), "click", 7L, 12L)))
    assert(upd.get.depth == 2L)

    // duplicate-step-type guard: steps = (view, click, view) — the
    // LATER view step may legitimately pick an above-anchor view
    // event, so pruning it would kill the walk. The guard keeps both
    // views across the batch boundary; the late-arriving click then
    // completes the 3-deep chain through the second view. Without the
    // guard this fails closed (depth would stop at 2).
    val steps = Seq("view", "click", "view")
    val (s1, _) = funnelFold(Some(1L), steps, None, Seq(
      FunnelEvent(Some(1L), "view", 1L, 20L),
      FunnelEvent(Some(1L), "view", 3L, 21L)))
    assert(s1.keys("view").size == 2, s1.keys.toString)
    val (_, u2) = funnelFold(Some(1L), steps, Some(s1), Seq(
      FunnelEvent(Some(1L), "click", 2L, 22L)))
    assert(u2.get.depth == 3L && u2.get.ts_arr == Seq(1L, 2L, 3L) &&
      u2.get.id_arr == Seq(20L, 22L, 21L))

    // frozen anchor (TTL form): the pick is FINAL, so every remaining
    // head-typed candidate is dead — the view entry empties even for
    // events the watermark alone would have kept
    val (t1, _) = funnelFold(Some(1L), Seq("view", "click"), None, Seq(
      FunnelEvent(Some(1L), "view", 1000000000L, 30L),
      FunnelEvent(Some(1L), "view", 9000000000L, 31L),
      FunnelEvent(Some(1L), "click", 7000000000L, 32L)), wmMs = Long.MinValue)
    val (t2, _) = funnelFold(Some(1L), Seq("view", "click"), Some(t1),
      Nil, wmMs = 2000L)
    assert(t2.frozen == Seq((1000000000L, 30L)) &&
      !t2.keys.contains("view"), t2.toString)
  }

  test("a late anchor-deciding event re-clips later steps") {
    // the disorder case the window form adds over plain stepsByKey:
    // batch 1 completes the whole chain inside the window; batch 2
    // delivers a LATE, EARLIER step-1 event — the anchor moves to it,
    // the old steps fall outside [anchor, anchor+W], and the re-walk
    // must shrink the emitted chain back to depth 1
    import graft.streaming.ChangeStream.{FunnelEvent, funnelFold}
    val steps = List("a", "b", "c")
    val w = 3L
    val (s1, u1) = funnelFold(Some(1L), steps, None, Seq(
      FunnelEvent(Some(1L), "a", 5L, 1L),
      FunnelEvent(Some(1L), "b", 6L, 2L),
      FunnelEvent(Some(1L), "c", 7L, 3L)), withinNs = w)
    assert(u1.exists(u => u.depth == 3L && u.ts_arr == Seq(5L, 6L, 7L)))
    val (_, u2) = funnelFold(Some(1L), steps, Some(s1), Seq(
      FunnelEvent(Some(1L), "a", 0L, 0L)), withinNs = w)
    assert(u2.exists(u => u.depth == 1L && u.ts_arr == Seq(0L)),
      s"anchor re-decision must re-clip the chain, got $u2")
  }

  test("TTL watermark covers step-type rows ONLY — a non-step event advances nothing") {
    // the r17 review catch: declaring the watermark on the RAW frame
    // let Catalyst push the funnel's filters below the
    // EventTimeWatermark node, so a high-ts NON-step event (an 'error'
    // row) silently advanced the watermark and evicted step events the
    // oracle predicted as survivors. The operator now declares the
    // watermark above its filters by construction; this pins it:
    // batch 0 carries a non-step event 22 days past the last step
    // event, batch 1's click must still SURVIVE a 10-day watermark.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.expr
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val raw = mem.toDF.toDF("user_id", "event_type", "ts", "event_id")
      .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    val upd = graft.streaming.ChangeStream.streamingFunnel(
      raw, Seq("view", "click"), Some("10 days"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-funnel-wm")
    val q = upd.writeStream.outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("funnel_wm_test").start()
    try {
      mem.addData((1L, "view", ts("2024-01-01 00:00:00"), 1L),
        (9L, "error", ts("2024-02-01 00:00:00"), 2L))
      q.processAllAvailable()
      // wrong coverage: wm = 2024-02-01 - 10d = 2024-01-22 → click dies;
      // correct coverage: wm = 2024-01-01 - 10d = 2023-12-22 → survives
      mem.addData((1L, "click", ts("2024-01-10 00:00:00"), 3L))
      q.processAllAvailable()
      val depth = spark.table("funnel_wm_test")
        .orderBy(org.apache.spark.sql.functions.col("depth").desc)
        .select("depth").as[Long].head()
      assert(depth == 2L,
        s"click was watermark-dropped (depth $depth): the non-step event " +
          "advanced the watermark — filter/watermark order regressed")
    } finally {
      q.stop()
      graft.queries.Registry.rmTree(tmp.toFile)
    }
  }

  test("funnel_upsert streaming sink round-trips through the config front-end") {
    // the TTL knob wired end to end as a TASK: events_raw_stream source
    // (4 ts-scrambled slices) → funnel_upsert sink with evictDelay;
    // resolved feed must equal the library call's gate result (the
    // stream_funnel_ttl survivor semantics)
    val tmp = java.nio.file.Files.createTempDirectory("graft-funnel-cfg")
    try {
      graft.pipeline.Pipeline.runStream(spark, s"""{
        "source": {"type": "events_raw_stream", "dir": "$sf",
                   "slices": 4, "sliceBy": "event_id % 4"},
        "processors": [],
        "sink": {"type": "funnel_upsert", "path": "$tmp/out",
                 "checkpoint": "$tmp/ckpt",
                 "steps": ["view", "click", "purchase"],
                 "evictDelay": "10 days"}
      }""")
      val fin = spark.read.parquet(s"$tmp/out")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(org.apache.spark.sql.functions.col("_b").desc)
      val last = fin
        .withColumn("_r",
          org.apache.spark.sql.functions.row_number().over(w))
        .filter("_r = 1")
        .select("user_id", "depth")
        .as[(Long, Long)].collect().toMap
      // same drain through the library call
      val tmp2 = java.nio.file.Files.createTempDirectory("graft-funnel-lib")
      try {
        val raw = graft.streaming.ChangeStream.fromEventsRawStream(
          spark, sf, slices = 4, sliceBy = "event_id % 4")
        val upd = graft.streaming.ChangeStream.streamingFunnel(
          raw, Seq("view", "click", "purchase"), Some("10 days"))
        val q = upd.writeStream.outputMode("update")
          .option("checkpointLocation", s"$tmp2/ckpt")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[
               graft.streaming.ChangeStream.FunnelUpd], id: Long) =>
              b.withColumn("_b",
                org.apache.spark.sql.functions.lit(id)).write
                .mode("append").parquet(s"$tmp2/out")
              ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        val lib = spark.read.parquet(s"$tmp2/out")
          .withColumn("_r",
            org.apache.spark.sql.functions.row_number().over(w))
          .filter("_r = 1").select("user_id", "depth")
          .as[(Long, Long)].collect().toMap
        assert(last == lib && last.nonEmpty)
      } finally graft.queries.Registry.rmTree(tmp2.toFile)
    } finally graft.queries.Registry.rmTree(tmp.toFile)
  }

  test("windowed funnel_upsert and retention_upsert round-trip through the config front-end") {
    // config parity for the r18 knobs: "withinNs" on funnel_upsert
    // (the streaming conversion-window funnel) and the new
    // retention_upsert sink — each resolved feed must equal the
    // library call's result
    import org.apache.spark.sql.functions.{col, row_number, explode, count, lit}
    val W = 7L * 86400L * 1000000000L
    val tmp = java.nio.file.Files.createTempDirectory("graft-win-cfg")
    try {
      graft.pipeline.Pipeline.runStream(spark, s"""{
        "source": {"type": "events_raw_stream", "dir": "$sf",
                   "slices": 4, "sliceBy": "event_id % 4"},
        "processors": [],
        "sink": {"type": "funnel_upsert", "path": "$tmp/fout",
                 "checkpoint": "$tmp/fckpt",
                 "steps": ["view", "click", "purchase"],
                 "withinNs": $W}
      }""")
      graft.pipeline.Pipeline.runStream(spark, s"""{
        "source": {"type": "events_raw_stream", "dir": "$sf",
                   "slices": 4, "sliceBy": "event_id % 4"},
        "processors": [],
        "sink": {"type": "retention_upsert", "path": "$tmp/rout",
                 "checkpoint": "$tmp/rckpt",
                 "periodNs": 86400000000000}
      }""")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("_b").desc)
      val cfgFunnel = spark.read.parquet(s"$tmp/fout")
        .withColumn("_r", row_number().over(w)).filter("_r = 1")
        .select("user_id", "depth").as[(Long, Long)].collect().toMap
      // library form: the windowed BATCH funnel over the same events —
      // the streaming fold's final emission must equal it (exactness
      // under the 4-slice ts-scrambled drain)
      val e = graft.source.Changelog.events(spark, sf)
        .withColumn("k", graft.ops.Funnel.packedKey(
          col("ts_ns"), col("event_id")))
      val libFunnel = graft.ops.Funnel.stepsByKeyWithin(e, "user_id",
          "event_type", Seq("view", "click", "purchase"), "k", "ts_ns", W)
        .select("user_id", "depth").as[(Long, Long)].collect().toMap
      assert(cfgFunnel == libFunnel && cfgFunnel.nonEmpty)

      val cfgCells = spark.read.parquet(s"$tmp/rout")
        .withColumn("_r", row_number().over(w)).filter("_r = 1")
        .select(col("cohort"), explode(col("offsets")).as("offset"))
        .groupBy("cohort", "offset").agg(count(lit(1)).as("n"))
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val libCells = graft.ops.Retention.cohorts(
          graft.source.Changelog.events(spark, sf),
          "user_id", "ts_ns", periodNs = 86400L * 1000000000L)
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(cfgCells == libCells && cfgCells.nonEmpty)
    } finally graft.queries.Registry.rmTree(tmp.toFile)
  }

  test("streamingRetention resolves to Retention.cohorts' cells (nulls dropped)") {
    val rows = Seq(
      (Option(1L), Option(0L)), (Option(1L), Option(86400L * 3)),
      (Option(2L), Option(86400L)), (Option(2L), Option(86400L * 2)),
      (Option(2L), Option(86400L)), // duplicate period collapses
      (Option.empty[Long], Option(0L)), (Option(3L), Option.empty[Long]))
    // ts in SECONDS here; periodNs=86400e9 in prod — use periodNs=86400
    // against second-scale values (div semantics identical)
    val raw = rows.toDF("user_id", "ts_ns")
    val upd = graft.streaming.ChangeStream
      .streamingRetention(raw, periodNs = 86400L).collect()
    assert(upd.map(_.user_id).toSet == Set(1L, 2L)) // nulls dropped
    val cells = upd.flatMap(u => u.offsets.map(o => (u.cohort, o)))
      .groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val batch = graft.ops.Retention.cohorts(raw, "user_id", "ts_ns", 86400L)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cells == batch, s"streaming $cells vs batch $batch")
  }

  test("funnel of an empty frame / no-matching-type stream is empty") {
    val df = List((1L, "x", 1L, 1L)).toDF("ent", "ty", "t", "id")
    assert(Funnel.steps(df, "ent", "ty", Seq("a", "b"), Seq("t", "id"))
      .count() == 0L)
    assert(Funnel.steps(df.filter("false"), "ent", "ty", Seq("a"),
      Seq("t", "id")).count() == 0L)
  }
}
