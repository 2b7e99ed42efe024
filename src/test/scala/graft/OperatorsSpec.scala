package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("normalize locks schema, drops extras, filters invalid rows") {
    val raw = Seq(
      (1L, "2024-01-02 10:00:00", 7L, " click ", 5.0, "{\"k\":1}"),
      (2L, "2024-01-02 11:00:00", 7L, "view", -1.0, "{}"), // negative value dropped
      (3L, null, 7L, "view", 2.0, "{}") // null ts dropped
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    val out = Normalize.events(raw)
    assert(out.columns.toSeq == Normalize.lockedEventColumns)
    val rows = out.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("event_type") == "CLICK")
  }

  test("requireColumns rejects missing columns") {
    val df = Seq((1, 2)).toDF("a", "b")
    assertThrows[IllegalArgumentException] {
      Normalize.requireColumns(df, Seq("a", "missing"))
    }
  }

  test("keepLast keeps exactly the latest row per key") {
    val df = Seq(
      (1L, "a", 10L, 1.0), (1L, "a", 20L, 2.0), (1L, "a", 20L, 3.0),
      (2L, "a", 5L, 9.0)
    ).toDF("k", "t", "ord", "v")
    val out = Dedup.keepLast(df, Seq("k", "t"), Seq($"ord".desc, $"v".desc))
    val m = out.collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(m == Map(1L -> 3.0, 2L -> 9.0))
  }

  test("duplicateGroups finds only groups with >1 row") {
    val df = Seq("x", "x", "y").toDF("s")
    val out = Dedup.duplicateGroups(df, $"s", "g").collect()
    assert(out.length == 1 && out(0).getAs[String]("g") == "x" && out(0).getAs[Long]("n_dups") == 2)
  }

  test("merge: matched keys take update values (including nulls), unmatched pass through") {
    val target = Seq((1L, "a", 10L, Some(1.0)), (2L, "b", 10L, Some(2.0)))
      .toDF("k", "t", "ord", "v")
    val updates = Seq((1L, "a", 20L, None: Option[Double]), (3L, "c", 20L, Some(3.0)))
      .toDF("k", "t", "ord", "v")
    // through the TableOps facade: the seam a Delta impl slots into
    val out = TableOps.commitLog.merge(target, updates, Seq("k", "t"), Seq($"ord".desc))
      .collect().map(r => (r.getLong(0), (r.getLong(2), Option(r.get(3))))).toMap
    assert(out(1L) == (20L, None))       // update wins, null value kept
    assert(out(2L) == (10L, Some(2.0)))  // untouched target
    assert(out(3L) == (20L, Some(3.0)))  // inserted
  }

  test("gold features: ma/vol/lag on a constructed series") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0))
      .toDF("k", "ord", "v")
    val out = GoldFeatures.features(df, Seq("k"), Seq($"ord"), "v")
      .orderBy("ord").collect()
    assert(out(0).getAs[Double]("ma_20") == 10.0)
    assert(out(1).getAs[Double]("ma_20") == 15.0)
    assert(out(2).getAs[Double]("ma_20") == 20.0)
    assert(out(0).isNullAt(out(0).fieldIndex("vol_20")))
    assert(math.abs(out(2).getAs[Double]("vol_20") - 10.0) < 1e-12) // stddev_samp(10,20,30)
    assert(out(1).getAs[Double]("prev_value") == 10.0)
    assert(math.abs(out(1).getAs[Double]("daily_return") - 1.0) < 1e-12)
    assert(out(0).isNullAt(out(0).fieldIndex("daily_return")))
  }

  test("gold features: zero prev value yields null return, not infinity") {
    val df = Seq((1L, 1L, 0.0), (1L, 2L, 5.0)).toDF("k", "ord", "v")
    val out = GoldFeatures.features(df, Seq("k"), Seq($"ord"), "v")
      .orderBy("ord").collect()
    assert(out(1).isNullAt(out(1).fieldIndex("daily_return")))
  }

  test("expectations: audit counts violations per rule; quarantine tags first failure") {
    val df = Seq((Some(1L), 5.0), (None, 5.0), (Some(2L), -1.0), (None, -2.0))
      .toDF("user_id", "value")
    val rules = Seq(
      Expectations.Expectation("not_null_user", $"user_id".isNotNull),
      Expectations.Expectation("nonneg", $"value" >= 0))
    val a = Expectations.audit(df, rules).collect()(0)
    assert(a.getAs[Long]("n_total") == 4)
    assert(a.getAs[Long]("n_viol_not_null_user") == 2)
    assert(a.getAs[Long]("n_viol_nonneg") == 2)
    val q = Expectations.quarantine(df, rules).collect()
    assert(q.length == 3)
    val reasons = q.map(_.getAs[String]("dq_reason")).sorted
    assert(reasons.count(_ == "not_null_user") == 2) // first-failing rule wins
    assert(Expectations.enforce(df, rules).count() == 1)
  }

  test("as-of join: inclusive at equal time, null before first dim row") {
    val facts = Seq((1L, 5L, "p5"), (1L, 10L, "p10"), (1L, 15L, "p15"), (2L, 10L, "q"))
      .toDF("k", "t", "tag")
    val dim = Seq((1L, 10L, 100.0), (1L, 12L, 120.0)).toDF("k", "t", "dv")
    val out = AsOf.joinLastValue(facts, dim, "k", "t", "dv", "asof_v")
      .collect().map(r => (r.getAs[String]("tag"), Option(r.get(3)))).toMap
    assert(out("p5") == None)              // before first dim row
    assert(out("p10") == Some(100.0))      // inclusive at equal t
    assert(out("p15") == Some(120.0))      // latest preceding
    assert(out("q") == None)               // other key unaffected
  }

  test("as-of join matches a naive per-row model on 200 random rows") {
    val rnd = new scala.util.Random(7L)
    val facts = (1 to 200).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, i.toLong))
    val dim = (1 to 60).map(_ =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, rnd.nextDouble()))
      // joinLastValue requires dim unique per (key, time): keep max value
      .groupBy(d => (d._1, d._2)).map(_._2.maxBy(_._3)).toSeq
    val fdf = facts.toDF("k", "t", "fid")
    val ddf = dim.toDF("k", "t", "dv")
    val got = AsOf.joinLastValue(fdf, ddf, "k", "t", "dv", "asof")
      .collect().map(r => r.getAs[Long]("fid") -> Option(r.getAs[Any]("asof"))).toMap
    val model = facts.map { case (k, t, fid) =>
      val candidates = dim.filter(d => d._1 == k && d._2 <= t)
      fid -> (if (candidates.isEmpty) None
              else Some(candidates.maxBy(_._2)._3))
    }.toMap
    assert(got == model)
  }

  test("calendar: weekday/holiday/trading flags and previous trading day") {
    val days = Seq("2024-01-12", "2024-01-13", "2024-01-15", "2024-01-16")
      .toDF("d").select(to_date($"d").as("day"))
    val cal = CalendarOps.calendarOver(days, "day").collect()
      .map(r => r.getAs[java.sql.Date]("cal_day").toString -> r).toMap
    assert(cal("2024-01-12").getAs[Boolean]("is_trading_day"))        // Friday
    assert(!cal("2024-01-13").getAs[Boolean]("is_trading_day"))       // Saturday
    assert(cal("2024-01-15").getAs[Boolean]("is_holiday"))            // MLK Monday
    assert(!cal("2024-01-15").getAs[Boolean]("is_trading_day"))
    assert(cal("2024-01-16").getAs[Boolean]("is_trading_day"))        // Tuesday
    // previous trading day skips the weekend AND the holiday
    assert(cal("2024-01-16").getAs[java.sql.Date]("prev_trading_day").toString == "2024-01-12")
  }

  test("lastNTradingDays: newest-first ranks, skips weekend and holiday") {
    val bounds = Seq(("2024-01-08", "2024-01-16")).toDF("d0s", "d1s")
      .select(to_date($"d0s").as("d0"), to_date($"d1s").as("d1"))
    val out = CalendarOps.lastNTradingDays(CalendarOps.calendar(bounds), 3)
      .collect()
      .map(r => r.getAs[java.sql.Date]("cal_day").toString -> r.getAs[Int]("rn"))
      .toMap
    // 13th/14th = weekend, 15th = MLK holiday → 16th, 12th, 11th
    assert(out == Map("2024-01-16" -> 1, "2024-01-12" -> 2, "2024-01-11" -> 3))
  }

  test("approx coverage: HLL distinct-day counts within 5% of exact") {
    val ev = Tables.events(spark, TestSpark.sfDir)
      .withColumn("day", to_date($"ts"))
    val exact = Aggregates.coverage(ev, Seq("user_id"), "day")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_days")).toMap
    val approx = Aggregates.coverageApprox(ev, Seq("user_id"), "day")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_days_approx")).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, a) =>
      assert(math.abs(a - exact(k)).toDouble / exact(k) <= 0.05, s"user $k: $a vs ${exact(k)}")
    }
  }

  test("batch sessionize: gap splits sessions, counts and bounds correct") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1L), (1L, "2024-01-01 10:10:00", 2L),
      (1L, "2024-01-01 22:30:00", 3L), // 12h20m after the previous → new session
      (2L, "2024-01-01 09:00:00", 4L)
    ).map { case (u, t, e) => (u, Timestamp.valueOf(t), e) }
      .toDF("user_id", "ts", "event_id")
    val out = Aggregates.sessionizeBatch(ev, "user_id", "ts",
        Seq($"ts", $"event_id"), gapMinutes = 720)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getTimestamp(2).toString, r.getTimestamp(3).toString, r.getLong(4))).toMap
    assert(out((1L, 1L)) == ("2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L))
    assert(out((1L, 2L)) == ("2024-01-01 22:30:00.0", "2024-01-01 22:30:00.0", 1L))
    assert(out((2L, 1L)) == ("2024-01-01 09:00:00.0", "2024-01-01 09:00:00.0", 1L))
  }

  test("salted join: identical result to the plain join on a skewed key") {
    val big = (1 to 500).map(i => (if (i <= 450) 7L else i.toLong, i))
      .toDF("k", "payload") // key 7 holds 90% of rows
    val small = Seq((7L, "hot"), (480L, "cold"), (999L, "absent")).toDF("k", "label")
    val plain = big.join(small, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltFactor = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
    // left join keeps unmatched big rows exactly once
    val leftPlain = big.join(small, Seq("k"), "left").count()
    assert(Skew.saltedJoin(big, small, Seq("k"), 8, "left").count() == leftPlain)
    // small-side-preserving types are rejected: replication would emit the
    // unmatched small row ('absent') once per salt value
    Seq("right", "full", "right_outer", "full_outer").foreach { jt =>
      val e = intercept[IllegalArgumentException](
        Skew.saltedJoin(big, small, Seq("k"), 8, jt))
      assert(e.getMessage.contains("swap the sides"))
    }
  }

  test("filterToTradingDays keeps only trading-day facts") {
    val facts = Seq(("2024-01-12", 1), ("2024-01-13", 2), ("2024-01-15", 3),
      ("2024-01-16", 4)).toDF("ds", "id")
      .select(to_date($"ds").as("day"), $"id")
    val cal = CalendarOps.calendarOver(facts, "day")
    val kept = CalendarOps.filterToTradingDays(facts, "day", cal)
      .select("id").as[Int].collect().sorted
    assert(kept.toSeq == Seq(1, 4)) // Friday and Tuesday survive
  }
}
