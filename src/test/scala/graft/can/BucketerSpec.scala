package graft.can

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.SparkTestSession
import graft.dbc._

class BucketerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // wide-shaped frame: ts_ms, a, b
  def wide(rows: (Double, java.lang.Integer, java.lang.Double)*) =
    rows.toDF("ts_ms", "a", "b")

  test("PerFrame: identity, renamed Time_ms") {
    val out = Bucketer.bucket(wide((0.0, 1, null), (5.0, 2, 2.5)), BucketMode.PerFrame)
    assert(out.columns.toSeq == Seq("Time_ms", "a", "b"))
    assert(out.count() == 2)
  }

  test("Tumbling: groups by fixed grid, Time_ms = min ts in bucket (T2)") {
    val out = Bucketer.bucket(
      wide((0.0, 1, null), (4.0, 2, 1.0), (12.0, 3, null), (26.0, null, 2.0)),
      BucketMode.Tumbling(10.0)).orderBy("Time_ms").collect()
    assert(out.map(_.getDouble(0)).toSeq == Seq(0.0, 12.0, 26.0))
  }

  test("Tumbling: last-wins vs first-wins combine (T4), null cells ignored") {
    val w = wide((0.0, 1, 1.0), (4.0, 2, null), (8.0, null, 3.0))
    val lastW = Bucketer.bucket(w, BucketMode.Tumbling(10.0)).collect().head
    assert(lastW.getInt(1) == 2 && lastW.getDouble(2) == 3.0) // last non-null each
    val firstW = Bucketer.bucket(w, BucketMode.Tumbling(10.0), CombinePolicy.FirstWins)
      .collect().head
    assert(firstW.getInt(1) == 1 && firstW.getDouble(2) == 1.0)
  }

  test("Exact: data-driven boundaries chain from closing frame (T1b)") {
    // cache=10: frames at 0,4,11,22,40 → reference fold:
    //   row1 opens @0 (frames 0,4) closes on 11 (11 > 0+10)
    //   row2 opens @11 (frame 11... then 22 > 11+10 closes)
    //   row3 opens @22 (22,  then 40 > 22+10 closes)
    //   row4 opens @40
    val w = wide((0.0, 1, null), (4.0, 2, null), (11.0, 3, null), (22.0, 4, null), (40.0, 5, null))
    val out = Bucketer.bucket(w, BucketMode.Exact(10.0)).orderBy("Time_ms").collect()
    assert(out.map(_.getDouble(0)).toSeq == Seq(0.0, 11.0, 22.0, 40.0))
    assert(out.map(_.getInt(1)).toSeq == Seq(2, 3, 4, 5)) // last-wins
    // tumbling would instead put 0,4 | 11 | 22 | 40 in buckets 0,1,2,4 — same
    // count here, but a >cacheMs gap starting mid-bucket shifts boundaries:
    val w2 = wide((8.0, 1, null), (15.0, 2, null))
    val exact = Bucketer.bucket(w2, BucketMode.Exact(10.0)).collect()
    assert(exact.length == 1) // 15 <= 8+10 → same data-driven row
    val tumb = Bucketer.bucket(w2, BucketMode.Tumbling(10.0)).collect()
    assert(tumb.length == 2) // grid splits at 10
  }

  test("Exact DeFacto: closing frame lands in closed row, ts opens next bucket") {
    // cache=10, frames at 0,4,11,22,40 (values 1,2,3,4,5):
    //   reference loop: decode-then-check, so frame@11 is decoded into the
    //   row opened @0 BEFORE 11-0>10 closes it → closed row holds value 3;
    //   @11 opens empty; frame@22 decodes into it then closes it (value 4);
    //   @22 opens empty; frame@40 decodes into it then closes it (value 5);
    //   @40 opens empty and receives nothing → not emitted.
    val w = wide((0.0, 1, null), (4.0, 2, null), (11.0, 3, null), (22.0, 4, null), (40.0, 5, null))
    val defacto = Bucketer.bucket(w,
      BucketMode.Exact(10.0, closeOrder = CloseOrder.DeFacto)).orderBy("Time_ms").collect()
    assert(defacto.map(_.getDouble(0)).toSeq == Seq(0.0, 11.0, 22.0))
    assert(defacto.map(_.getInt(1)).toSeq == Seq(3, 4, 5))
    // Clean mode on identical input: same boundaries, different row ownership
    val clean = Bucketer.bucket(w, BucketMode.Exact(10.0)).orderBy("Time_ms").collect()
    assert(clean.map(_.getDouble(0)).toSeq == Seq(0.0, 11.0, 22.0, 40.0))
    assert(clean.map(_.getInt(1)).toSeq == Seq(2, 3, 4, 5))
    // FP boundary divergence: ts exactly cacheMs after start. Clean's
    // additive test keeps ts==start+cache in-bucket; DeFacto's subtract
    // test agrees here (10-0 is exact in FP) — both one row.
    val boundary = wide((0.0, 1, null), (10.0, 2, null))
    assert(Bucketer.bucket(boundary,
      BucketMode.Exact(10.0, closeOrder = CloseOrder.DeFacto)).collect().length == 1)
  }

  test("Exact: first-wins respects append-only builder semantics") {
    val w = wide((0.0, 1, 1.0), (4.0, 2, null))
    val out = Bucketer.bucket(w, BucketMode.Exact(10.0), CombinePolicy.FirstWins).collect()
    assert(out.head.getInt(1) == 1)
  }

  test("Exact with keys: independent folds per key, parallel") {
    val df = Seq(
      ("x", 0.0, 1), ("x", 4.0, 2), ("x", 15.0, 3),
      ("y", 0.0, 7), ("y", 30.0, 8)
    ).toDF("k", "ts_ms", "a")
    val out = Bucketer.exactFold(df, 10.0, Seq("k"), CombinePolicy.LastWins, forwardFill = false)
      .orderBy("k", "Time_ms").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSeq ==
      Seq(("x", 0.0, 2), ("x", 15.0, 3), ("y", 0.0, 7), ("y", 30.0, 8)))
  }

  test("Keyed DeFacto: an empty gap-anchor bucket dies with its key — " +
      "no all-null row on key switch (same rule as end-of-stream)") {
    // key a: frames at 0 and 10 with cacheMs 5 — the frame at 10 lands
    // in the CLOSED row (DeFacto decode-before-gap-check) and its ts
    // anchors an empty bucket; key b follows. Before the fix the key
    // switch emitted Row(a, 10.0, null): present iff another key
    // happened to follow, absent at end-of-stream.
    val df = Seq(("a", 0.0, 1), ("a", 10.0, 2), ("b", 20.0, 7))
      .toDF("k", "ts_ms", "v")
    val out = Bucketer.exactFold(df, 5.0, Seq("k"), CombinePolicy.LastWins,
        forwardFill = false, closeOrder = CloseOrder.DeFacto)
      .orderBy("k", "Time_ms").collect()
      .map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getInt(2)))
    assert(out.toSeq == Seq(("a", 0.0, 2), ("b", 20.0, 7)))
  }

  test("Exact with forward-fill carries values across rows (T5 exact)") {
    val w = wide((0.0, 1, 5.0), (15.0, 2, null), (30.0, null, null))
    val out = Bucketer.exactFold(w, 10.0, Nil, CombinePolicy.LastWins, forwardFill = true)
      .orderBy("Time_ms").collect()
    assert(out.map(r => (r.getDouble(0), r.getInt(1), r.getDouble(2))).toSeq ==
      Seq((0.0, 1, 5.0), (15.0, 2, 5.0), (30.0, 2, 5.0)))
  }

  test("exactDistributed equals sequential exact fold (differential, gappy data)") {
    val rnd = new scala.util.Random(11)
    // bursts of dense traffic separated by > cacheMs gaps, plus jitter
    var t = 0.0
    val rows = (0 until 2000).map { i =>
      t += (if (rnd.nextInt(20) == 0) 35.0 + rnd.nextDouble() * 50 else rnd.nextDouble() * 6)
      (t, if (rnd.nextBoolean()) Int.box(rnd.nextInt(100)) else null.asInstanceOf[java.lang.Integer],
        if (rnd.nextInt(3) == 0) Double.box(rnd.nextDouble()) else null.asInstanceOf[java.lang.Double])
    }
    val df = rows.toDF("ts_ms", "a", "b").repartition(13)
    for (policy <- Seq(CombinePolicy.LastWins, CombinePolicy.FirstWins)) {
      val seq = Bucketer.exactFold(df, 10.0, Nil, policy, forwardFill = false)
        .orderBy("Time_ms").collect()
      val dist = Bucketer.exactDistributed(df, 10.0, policy, numPartitions = 7)
        .orderBy("Time_ms").collect()
      assert(seq.toSeq == dist.toSeq, s"policy $policy: ${seq.length} vs ${dist.length} rows")
    }
    // pathological: no gaps at all → single segment, still exact
    val dense = (0 until 200).map(i => (i * 1.0, Int.box(i), null.asInstanceOf[java.lang.Double]))
      .toDF("ts_ms", "a", "b")
    val s1 = Bucketer.exactFold(dense, 10.0, Nil, CombinePolicy.LastWins, forwardFill = false)
      .orderBy("Time_ms").collect()
    val s2 = Bucketer.exactDistributed(dense, 10.0, numPartitions = 5)
      .orderBy("Time_ms").collect()
    assert(s1.toSeq == s2.toSeq)
  }

  test("forward-fill: windowed and distributed agree (differential)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      (i.toDouble,
        if (rnd.nextBoolean()) Int.box(rnd.nextInt(100)) else null.asInstanceOf[java.lang.Integer],
        if (rnd.nextInt(4) == 0) Double.box(rnd.nextDouble()) else null.asInstanceOf[java.lang.Double])
    }
    val df = rows.toDF("Time_ms", "a", "b").repartition(7)
    val wexp = ForwardFill.windowed(df, "Time_ms").orderBy("Time_ms").collect()
    val before = spark.sparkContext.getPersistentRDDs.size
    val distDf = ForwardFill.distributed(df, "Time_ms", numPartitions = 5)
    val dist = distDf.orderBy("Time_ms").collect()
    // contract: the result is lazy and distributed() persists nothing —
    // both passes read the range shuffle instead of a cached copy
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "distributed() must not persist its input or its result")
    assert(wexp.toSeq == dist.toSeq)
    // head rows before any value stay null
    assert(dist.head.isNullAt(2) == (rows.head._3 == null))
  }

  test("forward-fill: keyed windowed variant fills per key in parallel") {
    val df = Seq(
      ("u", 1L, Some(10)), ("u", 2L, None), ("v", 1L, None), ("v", 2L, Some(7)), ("v", 3L, None)
    ).map { case (k, t, v) => (k, t, v.map(Int.box).orNull.asInstanceOf[java.lang.Integer]) }
      .toDF("k", "t", "x")
    val out = ForwardFill.windowed(df, "t", Seq("x"), keyCols = Seq("k"))
      .orderBy("k", "t").collect().map(_.getAs[Any]("x"))
    assert(out.toSeq == Seq(10, 10, null, 7, 7))
  }

  test("end-to-end golden: mini.log + mini.dbc, cache 10ms, exact (§7.2 spine)") {
    val out = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log",
      CanPipelineConfig(cacheMs = 10.0, exact = true))
    val rows = out.orderBy("Time_ms").collect()
    // frames at 0,4,8 (row1: 0-10); 12,16 (row2 opens @12); 50 (row3)
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.0, 12.0, 50.0))
    val r1 = rows(0)
    assert(r1.getAs[Float]("Engine_Speed") == 2000.0f)
    assert(r1.getAs[Int]("Counter_A") == 1000)
    assert(r1.getAs[Float]("GPS_Speed") == 1.0f)
    val r2 = rows(1)
    assert(r2.getAs[Float]("Val_A") == 1000.0f)
    assert(r2.getAs[Int]("Val_B") == 32767) // last-wins across the two mux frames
    val r3 = rows(2)
    assert(r3.getAs[Float]("Engine_Speed") == 0.0f)
    // forward-fill variant: row3 keeps row1's GPS_Speed
    val ff = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log",
      CanPipelineConfig(cacheMs = 10.0, exact = true, forwardFill = true))
      .orderBy("Time_ms").collect()
    assert(ff(2).getAs[Float]("GPS_Speed") == 1.0f)
    assert(ff(2).getAs[Int]("Val_B") == 32767)
  }

  test("observed pipeline metrics count frames and rows (T7)") {
    val listener = new PipelineMetrics.Progress(quiet = true)
    spark.listenerManager.register(listener)
    try {
      val out = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log",
        CanPipelineConfig(cacheMs = 10.0, observeMetrics = true))
      val nRows = out.count()
      // QueryExecutionListener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (listener.rows.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(listener.messages.get() == 7) // all parseable frames (pre-F1)
      assert(listener.rows.get() == nRows)
      // exact mode reports rows only (frame scan is sampled twice by the
      // range partitioner — see fromFrames)
      val exactOut = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log",
        CanPipelineConfig(cacheMs = 10.0, exact = true, observeMetrics = true))
      val before = listener.rows.get()
      val nExact = exactOut.count()
      val deadline2 = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (listener.rows.get() == before && System.nanoTime() < deadline2) Thread.sleep(50)
      assert(listener.rows.get() == before + nExact)
    } finally spark.listenerManager.unregister(listener)
  }

  test("stdin pipeline (S3) equals file pipeline on the same lines") {
    val cfg = CanPipelineConfig(cacheMs = 10.0, exact = true)
    val fromFile = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log", cfg)
      .orderBy("Time_ms").collect().map(_.toSeq)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("fixtures/mini.log"))
    val fromStdin = CanPipeline.decodeStdin(spark, "fixtures/mini.dbc", cfg,
        new java.io.ByteArrayInputStream(bytes))
      .orderBy("Time_ms").collect().map(_.toSeq)
    assert(fromStdin.toSeq == fromFile.toSeq)
  }

  test("tumbling pipeline + distributed forward-fill (scalable path)") {
    val out = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log",
      CanPipelineConfig(cacheMs = 10.0, forwardFill = true))
    val rows = out.orderBy("Time_ms").collect()
    // grid buckets: [0,10)→0.0, [10,20)→12.0 (12 & 16 share it), [50,60)→50.0
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.0, 12.0, 50.0))
    assert(rows(2).getAs[Float]("GPS_Speed") == 1.0f) // carried from row1
    assert(rows(1).getAs[Int]("Val_B") == 32767)      // last-wins within bucket
  }

  test("time-partitioned write prunes directories on time-range reads") {
    val out = java.nio.file.Files.createTempDirectory("graft_tpart").toString + "/wide"
    val df = (0 until 100).map(i => (i * 120000.0, i)).toDF("Time_ms", "v")
    WideTableWriter.writeTimePartitioned(df, out, bucketMs = 3600 * 1000L)
    val back = WideTableWriter.readTimeRange(spark, out, 3600000.0, 7200000.0)
    assert(back.count() == 30) // Time_ms in [3.6e6, 7.2e6) → i in 30..59
    assert(back.columns.toSeq == Seq("Time_ms", "v"))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("hour_bucket"))
  }

  test("pipeline exactKeys: key columns survive decode (regression)") {
    val out = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log",
      CanPipelineConfig(cacheMs = 10.0, exact = true, exactKeys = Seq("iface")))
    val rows = out.orderBy("Time_ms").collect()
    assert(out.columns.head == "iface")
    assert(rows.forall(_.getString(0) == "vcan0"))
    assert(rows.map(_.getAs[Double]("Time_ms")).toSeq == Seq(0.0, 12.0, 50.0))
  }

  test("exactDistributed FP boundary: gap test matches fold's close test") {
    // ts - last > cache would call this a gap; ts > last + cache (the
    // fold's arithmetic) does not -> must stay one bucket
    val df = Seq((0.1, 1), (0.30000000000000004, 2))
      .toDF("ts_ms", "a").withColumn("b", org.apache.spark.sql.functions.lit(null).cast("double"))
    val seqr = Bucketer.exactFold(df, 0.2, Nil, CombinePolicy.LastWins, forwardFill = false)
      .collect()
    val dist = Bucketer.exactDistributed(df, 0.2, numPartitions = 2).collect()
    assert(seqr.length == 1 && dist.length == 1)
  }

  test("Tumbling tie-break: equal ts in bucket resolves by value, both paths") {
    // two frames at the SAME ts with different values: the lexicographic
    // (ts, value) order must resolve the winner deterministically — larger
    // value for LastWins(max), smaller for FirstWins(min) — identically in
    // the codegen arg-extremum path and the struct fallback
    val w = wide((1.0, 7, null), (1.0, 3, 2.0), (5.0, null, 9.0), (5.0, null, 4.0))
    for ((policy, expA, expB) <- Seq(
        (CombinePolicy.LastWins, 7, 9.0), (CombinePolicy.FirstWins, 3, 2.0))) {
      val arg = Bucketer.tumblingArgExtremum(w, 10.0, policy).collect().head
      val st = Bucketer.tumblingStruct(w, 10.0, policy).collect().head
      assert(arg.getInt(1) == expA && arg.getDouble(2) == expB, s"argExt $policy")
      assert(st.getInt(1) == expA && st.getDouble(2) == expB, s"struct $policy")
    }
  }

  test("Tumbling tie-break with NaN values: argext matches struct (NaN sorts greatest)") {
    // flt32 decode can produce NaN signal values; Spark's SQL ordering
    // (and genComp's compareDoubles) treats NaN as greater than any value
    // and equal to itself — both paths must agree on a (ts-tie, NaN) cell
    val w = wide((1.0, null, Double.NaN), (1.0, null, 5.0), (3.0, 1, null))
    for (policy <- Seq(CombinePolicy.LastWins, CombinePolicy.FirstWins)) {
      val arg = Bucketer.tumblingArgExtremum(w, 10.0, policy).collect().head
      val st = Bucketer.tumblingStruct(w, 10.0, policy).collect().head
      val expB = if (policy == CombinePolicy.LastWins) Double.NaN else 5.0
      assert(arg.getDouble(2).equals(expB) && st.getDouble(2).equals(expB),
        s"$policy: argext=${arg.getDouble(2)} struct=${st.getDouble(2)} expected $expB")
    }
  }

  test("Tumbling: arg-extremum and struct paths agree on mixed data (differential)") {
    // pseudo-random mixed null/value pattern incl. duplicate ts, several buckets
    val rows = (0 until 500).map { i =>
      val ts = (i % 167) * 3.0 // duplicate ts across the range
      val a: java.lang.Integer = if (i % 3 == 0) null else Int.box((i * 2654435761L % 1000).toInt)
      val b: java.lang.Double = if (i % 5 == 4) null else Double.box((i * 97 % 713) / 7.0)
      (ts, a, b)
    }
    val w = wide(rows: _*)
    for (policy <- Seq(CombinePolicy.LastWins, CombinePolicy.FirstWins)) {
      val arg = Bucketer.tumblingArgExtremum(w, 50.0, policy)
      val st = Bucketer.tumblingStruct(w, 50.0, policy)
      assert(arg.exceptAll(st).count() == 0 && st.exceptAll(arg).count() == 0,
        s"paths diverge under $policy")
    }
  }

  test("Tumbling above CodegenArgWidthLimit falls back to struct path, still correct") {
    // 160 signal columns (> limit 150): bucket() must take the struct route
    // and produce the same rows the declarative path would
    val n = Bucketer.CodegenArgWidthLimit + 10
    val base = spark.range(100).select(
      (col("id") * 1.0).as("ts_ms") +:
        (0 until n).map(j => when(col("id") % 7 =!= j % 7, col("id") * (j + 1)).as(s"s$j")): _*)
    val out = Bucketer.bucket(base, BucketMode.Tumbling(25.0))
    val viaArg = Bucketer.tumblingArgExtremum(base, 25.0, CombinePolicy.LastWins)
    assert(out.exceptAll(viaArg).count() == 0 && viaArg.exceptAll(out).count() == 0)
  }

  test("tumblingFromFrames equals wide-table tumbling (mux + short dlc, both policies)") {
    // a mux message (shared signal + two mux-gated), a plain message, and
    // short-dlc frames (zero-padded): the frame-level aggregate must
    // reproduce the wide-table path exactly on tie-free timestamps
    val net = DbcParser.parseString(
      """BO_ 256 PLAIN: 8 E
        | SG_ P_A : 0|16@1+ (0.5,-10) [0|0] "" X
        | SG_ P_B : 16|8@1- (1,0) [0|0] "" X
        |
        |BO_ 512 MUXED: 8 E
        | SG_ Sel M : 0|8@1+ (1,0) [0|0] "" X
        | SG_ Shared : 8|8@1+ (1,0) [0|0] "" X
        | SG_ V0 m0 : 16|16@1+ (0.25,0) [0|0] "" X
        | SG_ V1 m1 : 16|16@1- (1,0) [0|0] "" X
        |""".stripMargin)
    val frames = spark.range(2000).select(
      (col("id") * 7.0).as("ts_ms"), // tie-free
      when(col("id") % 3 === 0, 256L).otherwise(512L).as("can_id"),
      // mux selector alternates 0/1 via the low byte; short dlc every 5th
      when(col("id") % 5 === 0,
        unhex(lpad(hex(col("id") % 2), 6, "0"))) // 3-byte payload
        .otherwise(unhex(concat(lpad(hex(col("id") % 2), 2, "0"),
          lpad(hex(col("id") * 2654435761L).substr(lit(1), lit(14)), 14, "0"))))
        .as("data"))
    for (policy <- Seq(CombinePolicy.LastWins, CombinePolicy.FirstWins);
         mode <- Seq(graft.dbc.TypingMode.Intended, graft.dbc.TypingMode.DeFacto)) {
      val viaWide = Bucketer.bucket(
        SignalDecoder.wideFrame(net, frames, mode), BucketMode.Tumbling(50.0), policy)
      val viaFrames = Bucketer.tumblingFromFrames(net, frames, 50.0, policy, mode)
      assert(viaFrames.columns.toSeq == viaWide.columns.toSeq)
      assert(viaFrames.exceptAll(viaWide).count() == 0 &&
        viaWide.exceptAll(viaFrames).count() == 0,
        s"frame-level and wide-table tumbling diverge under $policy/$mode")
    }
  }

  test("CanPipeline routes fleet-width tumbling through the frame-level path") {
    // a 168-signal net (> CodegenArgWidthLimit): fromFrames must produce
    // the frame-level plan's results (and columns in wide order)
    val dbcTxt = (0 until 42).map { m =>
      s"""BO_ ${512 + m} MSG$m: 8 E
         | SG_ W${m}_A : 0|16@1+ (0.5,-100) [0|0] "" X
         | SG_ W${m}_B : 16|8@1- (1,0) [0|0] "" X
         | SG_ W${m}_C : 24|1@1+ (1,0) [0|0] "" X
         | SG_ W${m}_D : 39|12@0+ (1,0) [0|0] "" X
         |""".stripMargin
    }.mkString("\n")
    val net = DbcParser.parseString(dbcTxt)
    assert(net.signalsInOrder.size > Bucketer.CodegenArgWidthLimit)
    val frames = spark.range(2000).select(
      (col("id") * 1.0).as("ts_ms"),
      (lit(512) + col("id") % 42).as("can_id"),
      unhex(lpad(hex(col("id") * 2654435761L), 16, "0")).as("data"))
    val viaPipeline = CanPipeline.fromFrames(net, frames,
      CanPipelineConfig(cacheMs = 100.0))
    val direct = Bucketer.tumblingFromFrames(net, frames, 100.0)
    assert(viaPipeline.columns.toSeq == direct.columns.toSeq)
    val a = viaPipeline.orderBy(DbcColumns.TimeCol).collect()
    val b = direct.orderBy(DbcColumns.TimeCol).collect()
    assert(a.length == b.length && a.sameElements(b))
  }

  test("time migration (T6): legacy seconds columns and passthrough") {
    val legacy = Seq((1.5, 10), (2.5, 20)).toDF("Time", "v")
    val m = TimeMigration.migrate(legacy).orderBy("Time_ms").collect()
    assert(m.map(_.getAs[Double]("Time_ms")).toSeq == Seq(1500.0, 2500.0))
    assert(!m.head.schema.fieldNames.contains("Time"))
    val pass = Seq((42.0, 1)).toDF("Time_ms", "v")
    assert(TimeMigration.migrate(pass).select("Time_ms").as[Double].head() == 42.0)
    val none = Seq((1, "x"), (2, "y")).toDF("v", "w")
    val synth = TimeMigration.migrate(none).select("Time_ms").as[Double].collect().sorted
    assert(synth.toSeq == Seq(0.0, 11.91))
  }
}
