package graft

import graft.ops.AsOfJoin
import org.apache.spark.sql.functions._

/** Scale-mechanics checks: bucketed co-located joins eliminate shuffles;
  * as-of join correctness against a hand-computed model.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // the in-memory catalog forgets tables across JVMs but their files
    // persist in spark-warehouse — clear the locations too
    Seq("li_b", "ord_b").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    import graft.sources.Sinks
    Sinks.writeBucketed(Tables.lineitem(spark, "/root/testdata/sf0.001"),
      "li_b", 8, Seq("l_orderkey"))
    Sinks.writeBucketed(Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_b", 8, Seq("l_orderkey"))
    // disable auto-broadcast so the join would otherwise shuffle — in an
    // ISOLATED child session (own SQLConf, shared catalog): suites run in
    // parallel against one shared SparkSession, and a threshold window on
    // the shared conf can flip a concurrent suite's size-estimated
    // broadcast into a sort-merge mid-plan (observed as a rare LlmSpec
    // plan-assert flake)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = s2.table("li_b").join(s2.table("ord_b"), "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    assert(joined.count() === 6000L)
  }

  test("salted join equals plain join (skew mitigation preserves semantics)") {
    import graft.ops.Skew
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("o_orderkey", "l_orderkey")
      .select(col("l_orderkey"), col("o_totalprice"))
    val plain = li.join(ord, Seq("l_orderkey"))
      .agg(sum(col("o_totalprice")), count(lit(1))).collect()
    val salted = Skew.saltedJoin(li, ord, Seq("l_orderkey"), factor = 4)
      .agg(sum(col("o_totalprice")), count(lit(1))).collect()
    assert(plain.map(_.toSeq).toSeq === salted.map(_.toSeq).toSeq)
  }

  test("salted distinct count equals plain countDistinct") {
    import graft.ops.Skew
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val plain = li.groupBy(col("l_returnflag").as("k"))
      .agg(countDistinct(col("l_partkey")).as("n_distinct"))
      .orderBy(col("k")).collect()
    val salted = Skew.saltedDistinctCount(li, col("l_returnflag"), col("l_partkey"), 8)
      .orderBy(col("k")).collect()
    assert(plain.map(_.toSeq).toSeq === salted.map(_.toSeq).toSeq)
  }

  test("filters and projection reach the parquet scan (plan regression guard)") {
    val q2 = SparkEntry.queries("q02_forecast_revenue")(spark, "/root/testdata/sf0.001")
    val scan = q2.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate)"), "predicates not pushed")
    assert(scan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      "columns not pruned")
    val q5 = SparkEntry.queries("q05_brand_volume")(spark, "/root/testdata/sf0.001")
    assert(q5.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "dimension join not broadcast")
  }

  test("ordered concat Aggregator reduces with explicit order (join_str, string.rs:1889)") {
    import graft.functions.OrderedConcat
    val agg = udaf(new OrderedConcat(","))
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("ord", "s")
    val out = df.agg(agg(col("ord"), col("s")).as("joined")).collect()
    assert(out.head.getString(0) === "a,b,c")
  }

  test("session_window native op agrees with composed gap sessionization") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val native = ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1))).groupBy(col("user_id")).count()
      .withColumnRenamed("count", "n_sessions")
    val composed = graft.streaming.Events.sessionizeBatch(ev, 30)
      .groupBy(col("user_id")).agg(max(col("sess_id")).as("n_sessions"))
    val joined = native.as("n").join(composed.as("c"), "user_id")
      .filter(col("n.n_sessions") =!= col("c.n_sessions"))
    assert(joined.count() === 0L)
  }

  test("withRowIndex assigns the global sorted index (distributed two-pass)") {
    import graft.ops.RowIndex
    val cust = Tables.customer(spark, "/root/testdata/sf0.001").select(col("c_custkey"))
    val idxed = RowIndex.withRowIndex(cust, "idx", Seq(col("c_custkey")), numPartitions = 8)
    val got = idxed.select(col("c_custkey").cast("long"), col("idx"))
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq === got.indices.map(_.toLong), "index not contiguous 0-based")
    assert(got.map(_._1).toSeq === got.map(_._1).sorted.toSeq, "index order disagrees with key order")
    // scale shape: exactly ONE data shuffle (the range exchange) — a
    // pid-partitioned window would add a second, hash-partitioned one
    val plan = idxed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"withRowIndex added a second data shuffle:\n$plan")
    assert(plan.contains("rangepartitioning"), s"range exchange missing:\n$plan")
  }

  test("withRunningTotal matches a single-partition window model (incl. negatives/nulls)") {
    import graft.ops.RowIndex
    val rnd = new scala.util.Random(13)
    val rows = Seq.tabulate(500)(i =>
      (i.toLong, if (i % 17 == 0) None else Some(rnd.nextInt(200).toLong - 40)))
    val df = twoLongs("k", "v", rows.map { case (k, v) => (Some(k), v) })
    val got = RowIndex.withRunningTotal(df, "rt", col("v"), Seq(col("k")), numPartitions = 8)
      .select(col("k"), col("rt")).as[(Long, Long)].collect().toMap
    var acc = 0L
    for ((k, v) <- rows) {
      acc += v.getOrElse(0L)
      assert(got(k) === acc, s"running total at k=$k")
    }
  }

  test("withRunningTotal dimension-sized fast path (count unpinned) matches the distributed shape") {
    import graft.ops.RowIndex
    val rnd = new scala.util.Random(29)
    val rows = Seq.tabulate(400)(i =>
      (i.toLong, if (i % 13 == 0) None else Some(rnd.nextInt(150).toLong - 25)))
    val df = rows.toDF("k", "v")
    // numPartitions = 0 + a TRUE row count under the fast-path cap takes
    // the single-partition path: no range exchange, no boundary sampling,
    // no offsets job (the decision is made on the materialized count, not
    // a plan-stats estimate — estimates above aggregates mis-size badly)
    val fast = RowIndex.withRunningTotal(df, "rt", col("v"), Seq(col("k")))
    // the result is an RDD-backed frame, so the range exchange (if any)
    // lives in the RDD lineage, not the SQL plan: a fast-path lineage has
    // no shuffle dependency at all (coalesce(1) is narrow)
    val lineage = fast.rdd.toDebugString
    assert(!lineage.contains("ShuffledRowRDD"),
      s"fast path still shuffles a dimension-sized input:\n$lineage")
    val got = fast.select(col("k"), col("rt")).as[(Long, Long)].collect().toMap
    var acc = 0L
    for ((k, v) <- rows) {
      acc += v.getOrElse(0L)
      assert(got(k) === acc, s"fast-path running total at k=$k")
    }
  }

  test("session settings default to the machine's cores and 1g executors") {
    val cores = Runtime.getRuntime.availableProcessors
    assert(GraftConf.sessionSettings(Map.empty) ===
      GraftConf.SessionSettings(s"local[$cores]", cores, cores, "1g", None))
  }

  test("each session env var overrides its setting") {
    def settings(kv: (String, String)*) = GraftConf.sessionSettings(kv.toMap)
    assert(settings("SPARK_GRAFT_CPUS" -> "3") ===
      GraftConf.SessionSettings("local[3]", 3, 3, "1g", None))
    assert(settings("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "7").shufflePartitions === 7)
    assert(settings("SPARK_GRAFT_EXEC_MEM" -> "6g").executorMemory === "6g")
    assert(settings("SPARK_GRAFT_EXEC_CP" -> "/x/classes").executorClassPath === Some("/x/classes"))
    assert(settings("SPARK_GRAFT_MASTER" -> "local-cluster[2,4,1024]").master ===
      "local-cluster[2,4,1024]")
  }

  test("SPARK_GRAFT_MASTER beats SPARK_GRAFT_CPUS, which still sizes the shuffles") {
    val s = GraftConf.sessionSettings(
      Map("SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "8"))
    assert((s.master, s.cpus, s.shufflePartitions) === (("local[2]", 8, 8)))
  }

  test("a malformed or zero count env var throws naming the variable") {
    for {
      key <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
      bad <- Seq("abc", "0")
    } {
      val e = intercept[IllegalArgumentException](GraftConf.sessionSettings(Map(key -> bad)))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      GraftConf.positiveInt(Map("SPARK_GRAFT_BENCH_PASSES" -> "x"), "SPARK_GRAFT_BENCH_PASSES"))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_PASSES"), e.getMessage)
  }

  test("withRunningTotal's distributed path leaves no dead registry slot to evict a live cache") {
    import graft.ops.{CacheRegistry, RowIndex}
    import org.apache.spark.storage.StorageLevel
    CacheRegistry.releaseAll()
    // 7 live operator caches + the distributed path's own ranged cache
    // fill the 8 slots exactly; registering the input it unpersists by
    // hand would push the oldest live cache out
    val live = (1 to 7).map { i =>
      val df = spark.range(i * 10L).toDF("x").persist()
      df.count()
      CacheRegistry.register(df)
    }
    val df = Seq.tabulate(200)(i => (i.toLong, i.toLong)).toDF("k", "v")
    RowIndex.withRunningTotal(df, "rt", col("v"), Seq(col("k")), numPartitions = 4).count()
    assert(live.forall(_.storageLevel != StorageLevel.NONE),
      "a live registered cache was evicted by the unpersisted input's slot")
    CacheRegistry.releaseAll()
  }

  test("pageRankExact's per-iteration ranks push no live registry cache out") {
    import graft.ops.CacheRegistry
    import org.apache.spark.storage.StorageLevel
    CacheRegistry.releaseAll()
    // 7 live operator caches fill 7 of the 8 slots: the iterations'
    // ranks are local checkpoints, not registry caches, so however many
    // steps run, no live cache is pushed out
    val live = (1 to 7).map { i =>
      val df = spark.range(i * 10L).toDF("x").persist()
      df.count()
      CacheRegistry.register(df)
    }
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pr = graft.llm.Graphs.pageRankExact(edges, "src", "dst", nodes, "id", iters = 5)
    assert(pr.count() === 5)
    assert(live.forall(_.storageLevel != StorageLevel.NONE),
      "a live registered cache was evicted by pageRankExact's iterations")
    CacheRegistry.releaseAll()
  }

  test("pageRankExact runs 20 steps on a 5-node graph, each step's plan no larger than the second's") {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    // The plan strings Spark builds for every execution (the start event
    // and each adaptive update) recurse into every cached plan below: when
    // each step cached its ranks and the next read them twice, they grew
    // exponentially with iters, and iters = 8 exhausted a 4 GB heap on
    // this graph. Each step now ends in a local checkpoint, a leaf.
    val label = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val chars = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    def record(id: Long, plan: String): Unit =
      Option(label.get(id)).foreach(chars.merge(_, plan.length, math.max))
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          label.put(s.executionId, s.description)
          record(s.executionId, s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          record(u.executionId, u.physicalPlanDescription)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    sc.addSparkListener(listener)
    val pr = try {
      val pr = graft.llm.Graphs.pageRankExact(edges, "src", "dst", nodes, "id", iters = 20)
      org.apache.spark.sql.graft.MetricsBridge.waitListenerBusEmpty(sc)
      pr
    } finally sc.removeSparkListener(listener)
    assert(pr.count() === 5)
    val steps = (1 to 20).map(i => chars.getOrDefault(s"Graphs.pageRankExact step $i", 0))
    assert(steps.forall(_ > 0), s"a step ran no labelled execution: $steps")
    // A step's longest plan string is about 12.6k chars on Spark 4.1.
    // Expression ids gain digits as the session runs, hence the 10%
    // slack; a chained step multiplied it several times over.
    assert(steps.drop(2).forall(_ <= steps(1) * 1.1), s"per-step plan chars grow: $steps")
  }

  test("CacheRegistry counts capacity evictions only: 9 live registrations evict 1") {
    import graft.ops.CacheRegistry
    import org.apache.spark.storage.StorageLevel
    CacheRegistry.releaseAll()
    val e0 = CacheRegistry.evictions
    val frames = (1 to 9).map(i => CacheRegistry.persist(spark.range(i * 10L + 1).toDF("x")))
    assert(CacheRegistry.evictions - e0 === 1)
    assert(frames.head.storageLevel === StorageLevel.NONE)
    assert(frames.tail.forall(_.storageLevel != StorageLevel.NONE))
    // a slot whose frame its owner already unpersisted is dropped first,
    // not counted, and pushes no live cache out
    frames(1).unpersist(blocking = true)
    CacheRegistry.persist(spark.range(1000L).toDF("x"))
    assert(CacheRegistry.evictions - e0 === 1)
    assert(frames.drop(2).forall(_.storageLevel != StorageLevel.NONE))
    CacheRegistry.releaseAll()
    assert(CacheRegistry.evictions - e0 === 1)
    assert(frames.forall(_.storageLevel === StorageLevel.NONE))
  }

  test("CacheRegistry.during frees its frame after the body, on a throw too, and takes over a slot") {
    import graft.ops.CacheRegistry
    import org.apache.spark.storage.StorageLevel
    CacheRegistry.releaseAll()
    val df = spark.range(77L).toDF("x")
    assert(CacheRegistry.during(df) { d =>
      assert(d.storageLevel != StorageLevel.NONE)
      d.count()
    } === 77L)
    assert(df.storageLevel === StorageLevel.NONE)
    intercept[IllegalStateException](CacheRegistry.during(df)(_ => throw new IllegalStateException))
    assert(df.storageLevel === StorageLevel.NONE)
    // a registered frame handed to during leaves the deque: 8 more live
    // registrations then evict nothing
    val owned = CacheRegistry.persist(spark.range(78L).toDF("x"))
    val e0 = CacheRegistry.evictions
    CacheRegistry.during(owned)(_.count())
    assert(owned.storageLevel === StorageLevel.NONE)
    (1 to 8).foreach(i => CacheRegistry.persist(spark.range(100L + i).toDF("x")))
    assert(CacheRegistry.evictions === e0)
    CacheRegistry.releaseAll()
  }
  test("packSequences: contiguous bins, budget arithmetic, zero-token docs") {
    import graft.llm.Packing
    val df = Seq((0L, 300L), (1L, 300L), (2L, 0L), (3L, 500L), (4L, 1200L))
      .toDF("id", "n_tokens")
    val out = Packing.packSequences(df, "n_tokens", 512L, Seq(col("id")))
      .orderBy(col("id"))
      .select("id", "start_off", "bin", "bin_off", "end_bin")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (0L, 0L, 0L, 0L, 0L),       // tokens 0-299 in bin 0
      (1L, 300L, 0L, 300L, 1L),   // spans bins 0-1
      (2L, 600L, 1L, 88L, 1L),    // zero tokens: end_bin = bin
      (3L, 600L, 1L, 88L, 2L),    // spans 1-2
      (4L, 1100L, 2L, 76L, 4L)))  // spans 2-4
  }

  test("TopK aggregator equals the window top-k on random data (merge path included)") {
    import graft.functions.TopK
    val rnd = new scala.util.Random(23)
    // duplicate scores on purpose: the id tie-break must decide
    val rows = Seq.tabulate(2000)(i => (s"g${i % 7}", (rnd.nextInt(50) * 10).toDouble, i.toLong))
    val df = rows.toDF("g", "score", "id").repartition(8)
    val topk = udaf(new TopK(5))
    val got = df.groupBy(col("g")).agg(topk(col("score"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rk"), col("col._1").as("score"), col("col._2").as("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(5).zipWithIndex.map { case ((_, sc, id), i) =>
        (g, i + 1, sc, id)
      }
    }.toSet
    assert(got === expect)
  }

  test("TopK ranks NaN first and ignores the zero sign, like the window oracle") {
    import graft.functions.TopK
    val df = Seq(("g", 1.0, 1L), ("g", Double.NaN, 2L), ("g", -0.0, 3L),
      ("g", 0.0, 4L), ("g", 2.0, 5L)).toDF("g", "score", "id").repartition(3)
    val topk = udaf(new TopK(4))
    val got = df.groupBy(col("g")).agg(topk(col("score"), col("id")).as("top"))
      .select(posexplode(col("top")))
      .collect().map(r => r.getStruct(1).getLong(1)).toSeq
    // NaN (id 2) first, then 2.0, 1.0, then the zeros by id tie-break
    assert(got === Seq(2L, 5L, 1L, 3L))
    val win = df.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
          .orderBy(col("score").desc, col("id"))))
      .filter(col("rk") <= 4).orderBy(col("rk"))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(got === win)
  }

  test("positional ops contain no unpartitioned Window (100TB scale guard)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("q26_selection_indices", "q48_zip_tables", "q60_dictionary_codes",
        "q10_supplier_running", "q44_sessionize")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w.simpleString(80)
      }
      assert(bad.isEmpty, s"$name funnels data through a single-task Window: ${bad.mkString("; ")}")
    }
  }

  test("withRowIndex on an empty input yields an empty indexed frame") {
    import graft.ops.RowIndex
    val empty = Tables.customer(spark, "/root/testdata/sf0.001")
      .filter(col("c_custkey") < 0).select(col("c_custkey"))
    val idxed = RowIndex.withRowIndex(empty, "idx", Seq(col("c_custkey")))
    assert(idxed.count() === 0L)
    assert(idxed.columns.toSeq === Seq("c_custkey", "idx"))
  }

  test("withRowIndex under duplicate order keys still yields a permutation of 0..n-1") {
    import graft.ops.RowIndex
    val df = spark.range(0, 1000).selectExpr("id % 7 AS k") // heavy ties
    val idxed = RowIndex.withRowIndex(df, "idx", Seq(col("k")), numPartitions = 8)
    val got = idxed.select(col("k"), col("idx")).as[(Long, Long)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq === (0L until 1000L), "not a contiguous permutation")
    assert(got.map(_._1).toSeq === got.map(_._1).sorted.toSeq, "ties split across index ranges")
  }

  test("two-pass percentiles equal the builtin on randomized grouped data") {
    import graft.ops.Percentiles
    val rnd = new scala.util.Random(42)
    val rows = Seq.tabulate(2000)(i => (s"g${rnd.nextInt(5)}",
      if (rnd.nextInt(50) == 0) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(math.floor(rnd.nextDouble() * 100) / 4)))
    val df = spark.createDataFrame(rows).toDF("k", "v")
    val builtin = df.groupBy(col("k"))
      .agg(expr("percentile(v, 0.37)").as("p")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val twoPass = Percentiles.exactPercentiles(df, "k", "v", Seq(0.37), Seq("p"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(twoPass.keySet === builtin.keySet)
    for (k <- builtin.keySet) (builtin(k), twoPass(k)) match {
      case (null, null) => ()
      case (a: java.lang.Double, b: java.lang.Double) =>
        assert(math.abs(a - b) <= math.ulp(a) * 4, s"group $k: $a vs $b")
      case (a, b) => fail(s"group $k: $a vs $b")
    }
  }

  test("two-pass exact percentiles equal the buffering builtin") {
    import graft.ops.Percentiles
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val builtin = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.25)").as("p25"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.99)").as("p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val twoPass = Percentiles.exactPercentiles(li, "l_returnflag", "l_extendedprice",
        Seq(0.25, 0.5, 0.99), Seq("p25", "p50", "p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(twoPass.keySet === builtin.keySet)
    for (k <- builtin.keySet) {
      val (a, b) = (builtin(k), twoPass(k))
      for ((x, y) <- Seq((a._1, b._1), (a._2, b._2), (a._3, b._3)))
        assert(math.abs(x - y) <= math.ulp(x) * 4, s"group $k: builtin $x vs two-pass $y")
    }
  }

  test("approx_percentile (100TB path) tracks the exact battery within 1e-3 relative") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val exact = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((k, e) <- exact) {
      assert(math.abs(approx(k) - e) / math.abs(e) < 1e-3,
        s"group $k: approx ${approx(k)} vs exact $e")
    }
  }

  test("RangeJoinRule rewrites point-in-interval joins away from nested loop") {
    import org.apache.spark.sql.graft.SessionBridge
    val s2 = SessionBridge.newSessionWithExtensions(spark, new GraftExtensions)
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    import s2.implicits._
    val points = Seq((1L, "2024-01-01 10:15:00"), (2L, "2024-01-01 11:30:00"),
      (3L, "2024-01-02 00:00:00"), (4L, "2024-01-05 09:00:00"))
      .toDF("pid", "pt_s").select(col("pid"), col("pt_s").cast("timestamp").as("pt"))
    val intervals = Seq((10L, "2024-01-01 10:00:00", "2024-01-01 12:00:00"),
      (11L, "2024-01-01 23:00:00", "2024-01-02 01:00:00"),
      (12L, "2024-01-03 00:00:00", "2024-01-04 00:00:00"))
      .toDF("iid", "lo_s", "hi_s")
      .select(col("iid"), col("lo_s").cast("timestamp").as("lo"), col("hi_s").cast("timestamp").as("hi"))
    val cond = col("pt") >= col("lo") && col("pt") < col("hi")
    // without the hint conf: naive plan (nested loop), reference results
    val naive = points.join(intervals, cond)
    assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val expect = naive.collect().map(_.toSeq).toSet
    // with the hint conf: rewritten to the binned equi-join, same results
    s2.conf.set("spark.graft.rangeJoin.binSizeUs", (3600L * 1000000L).toString)
    try {
      val rewritten = points.join(intervals, cond)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"not rewritten:\n$plan")
      assert(rewritten.collect().map(_.toSeq).toSet === expect)
    } finally s2.conf.unset("spark.graft.rangeJoin.binSizeUs")
  }

  test("GraftExtensions injects the kernel functions at session build") {
    import org.apache.spark.sql.graft.SessionBridge
    val s2 = SessionBridge.newSessionWithExtensions(spark, new GraftExtensions)
    // no registerAll call anywhere on s2 — the extension did the injection
    val r = s2.sql(
      "SELECT int_pow(3L, 41L) AS p, fma(0.1, 10.0, -1.0) AS f, " +
        "count_match('aaaa', 'aa') AS c, fma_f32(24929.0, 673.0, 0.0000000009313226) AS f32")
      .collect().head
    assert(r.getLong(0) === (BigInt(3).pow(41) mod (BigInt(1) << 64)).toLong)
    assert(r.getDouble(1) === Math.fma(0.1, 10.0, -1.0))
    assert(r.getLong(2) === 2L)
    // true fused semantics through SQL: the double-rounding counterexample
    assert(r.getFloat(3) === Math.fma(24929f, 673f, math.pow(2, -30).toFloat))
  }

  test("asOf join matches a hand-computed model") {
    val quotes = Seq( // key, time, price
      ("a", 1L, 10.0), ("a", 5L, 11.0), ("a", 9L, 12.0),
      ("b", 2L, 20.0)).toDF("k", "qt", "price")
    val trades = Seq( // key, time
      ("a", 0L), ("a", 1L), ("a", 6L), ("a", 100L),
      ("b", 1L), ("b", 3L)).toDF("k", "tt")
    val out = AsOfJoin.asOf(trades, quotes, "tt", "qt", Seq("k"))
      .orderBy(col("k"), col("tt"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out.toSeq === Seq(
      ("a", 0L, None),        // before first quote
      ("a", 1L, Some(10.0)),  // inclusive at equal time
      ("a", 6L, Some(11.0)),
      ("a", 100L, Some(12.0)),
      ("b", 1L, None),
      ("b", 3L, Some(20.0))))
  }

  test("asOf forward direction and tolerance (merge_asof parity)") {
    val quotes = Seq(
      ("a", 1L, 10.0), ("a", 5L, 11.0), ("a", 9L, 12.0)).toDF("k", "qt", "price")
    val trades = Seq(
      ("a", 0L), ("a", 1L), ("a", 6L), ("a", 100L)).toDF("k", "tt")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("k"), col("tt")).collect().map(r =>
        (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    // forward: earliest quote at-or-after the trade
    val fwd = AsOfJoin.asOf(trades, quotes, "tt", "qt", Seq("k"), direction = "forward")
    assert(collect(fwd) === Seq(
      (0L, Some(10.0)), (1L, Some(10.0)), (6L, Some(12.0)), (100L, None)))
    // backward with tolerance 2: matches farther than 2 ticks become NULL
    val tol = AsOfJoin.asOf(trades, quotes, "tt", "qt", Seq("k"),
      tolerance = Some((l, r) => l - r <= lit(2L)))
    assert(collect(tol) === Seq(
      (0L, None), (1L, Some(10.0)), (6L, Some(11.0)), (100L, None)))
  }

  test("HLL sketch union equals direct sketch; estimate inside the error envelope") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    // fine-grain sketches (priority × year) unioned up to priority must
    // give the SAME estimate as sketching the priority directly — HLL
    // merge is lossless over its register state
    val fine = orders
      .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    val merged = fine.groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = orders.groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === direct, "sketch-union estimate diverged from direct sketch")
    val exact = orders.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((p, n) <- exact) {
      val e = merged(p)
      assert(math.abs(e - n).toDouble / n < 0.05,
        s"$p: estimate $e outside 5% of exact $n")
    }
  }

  test("FrequentItems honors the Misra-Gries N/(k+1) bounds under merges") {
    // zipf-ish stream: term t_i appears ~C/i times, plus a long tail of
    // singletons; randomized partitioning forces nontrivial merge trees
    val rnd = new scala.util.Random(42)
    val stream = (1 to 40).flatMap(i => Seq.fill(2000 / i)(s"t$i")) ++
      (1 to 3000).map(i => s"tail${i}_${rnd.nextInt(1000)}")
    val n = stream.size.toLong
    val k = 32
    val exact = stream.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val df = spark.createDataFrame(rnd.shuffle(stream).map(Tuple1(_))).toDF("term")
      .repartition(8)
    val fi = udaf(new graft.functions.FrequentItems(k))
    val est = df.agg(fi(col("term")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e._1"), col("e._2"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val bound = n / (k + 1) + 1 // integer slack on the N/(k+1) bound
    assert(est.size <= k, s"summary exceeded k entries: ${est.size}")
    // (1) every term with true count > N/(k+1) must survive
    for ((t, c) <- exact if c > bound) {
      assert(est.contains(t), s"heavy hitter $t (count $c, bound $bound) missing")
    }
    // (2) est ≤ true ≤ est + N/(k+1) for every surviving term
    for ((t, e) <- est) {
      val c = exact.getOrElse(t, 0L)
      assert(e <= c, s"$t overestimated: est $e > true $c")
      assert(c - e <= bound, s"$t underestimated beyond bound: true $c est $e")
    }
  }

  test("asOfBroadcast matches the window composition and never shuffles the left side") {
    val d = "/root/testdata/sf0.001"
    val right = Tables.orders(spark, d)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val left = Tables.events(spark, d).select(col("event_id"), col("user_id"),
      col("ts").cast("timestamp_ntz").as("ts"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    for (dir <- Seq("backward", "forward");
         tol <- Seq(None, Some(30L * 86400L * 1000000L))) {
      val bc = AsOfJoin.asOfBroadcast(left, right, "ts", "o_orderdate",
        Seq("user_id"), dir, tol)
      val wn = AsOfJoin.asOf(left, right, "ts", "o_orderdate", Seq("user_id"), dir,
        tol.map(t => (l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =>
          abs(unix_micros(l.cast("timestamp")) - unix_micros(r.cast("timestamp"))) <= lit(t)))
      assert(rows(bc) === rows(wn), s"mismatch dir=$dir tol=$tol")
    }
    // plan shape: broadcast join, no sort-merge, no Window carry
    val plan = AsOfJoin.asOfBroadcast(left, right, "ts", "o_orderdate", Seq("user_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"left side pays a shuffle/sort it shouldn't:\n$plan")
  }

  test("Sketches: count-min never undercounts, stays in eps*N, ignores partitioning") {
    import graft.ops.Sketches
    val rnd = new scala.util.Random(7)
    // skewed vocabulary plus a tail that forces real collisions at eps=0.01
    val vals = (1 to 50).flatMap(i => Seq.fill(400 / i)(s"v$i")) ++
      (1 to 2000).map(i => s"tail$i")
    val n = vals.size.toLong
    val exact = vals.groupBy(identity).map { case (v, xs) => (v, xs.size.toLong) }
    val shuffled = rnd.shuffle(vals).map(Tuple1(_))
    val df8 = spark.createDataFrame(shuffled).toDF("v").repartition(8)
    val df1 = spark.createDataFrame(shuffled).toDF("v").coalesce(1)
    val (eps, conf, seed) = (0.01, 0.99, 7)
    val sk8 = Sketches.countMinSketch(df8, col("v"), eps, conf, seed)
    val sk1 = Sketches.countMinSketch(df1, col("v"), eps, conf, seed)
    for ((v, c) <- exact) {
      val e = sk8.estimateCount(v)
      assert(e >= c, s"$v undercounted: est $e < true $c")
      assert(e - c <= (eps * n).toLong + 1, s"$v overcounted beyond eps*N: est $e true $c")
      // cell-wise-addition merge ⇒ partitioning cannot change the estimate
      assert(e === sk1.estimateCount(v), s"$v estimate depends on partitioning")
    }
  }

  test("BloomJoin: prefiltered join is exactly the plain join, with real reduction") {
    import graft.ops.BloomJoin
    val d = "/root/testdata/sf0.001"
    // selective dim: 6-ish suppliers of one nation
    val dim = Tables.supplier(spark, d)
      .join(Tables.nation(spark, d).filter(col("n_name") === "NATION_7"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val fact = Tables.lineitem(spark, d).select(col("l_suppkey"), col("l_quantity"))
    val plain = fact.join(dim, Seq("l_suppkey"))
      .groupBy(col("l_suppkey")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val bloomed = BloomJoin.bloomFilteredJoin(fact, dim, Seq("l_suppkey"), expectedItems = 64)
      .groupBy(col("l_suppkey")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(bloomed === plain, "bloom prefilter changed the join result")
    // the membership test must actually cut the fact volume before the join
    val (m, k) = BloomJoin.geometry(64, 0.01)
    val bits = BloomJoin.buildBits(dim, Seq(dim("l_suppkey")), m, k)
    val kept = fact.filter(BloomJoin.mightContain(Seq(fact("l_suppkey")), bits, k)).count()
    val total = fact.count()
    assert(kept < total / 2, s"no reduction: kept $kept of $total")
  }

  test("BloomJoin: no false negatives ever; false-positive rate near the design fpp") {
    import graft.ops.BloomJoin
    val members = longs("v", (0L until 2000L).map(i => Some(i * 3)))
    val (m, k) = BloomJoin.geometry(2000, 0.01)
    val bits = BloomJoin.buildBits(members, Seq(col("v")), m, k)
    // every member passes — bloom filters cannot miss
    val missed = members.filter(!BloomJoin.mightContain(Seq(col("v")), bits, k)).count()
    assert(missed === 0L, s"$missed false negatives")
    // disjoint probes: observed fp rate within 5x of the 1% design point
    val probes = longs("v", (0L until 10000L).map(i => Some(1000000L + i)))
    val fp = probes.filter(BloomJoin.mightContain(Seq(col("v")), bits, k)).count()
    assert(fp.toDouble / 10000 < 0.05, s"fp rate ${fp.toDouble / 10000} too high")
  }

  test("q118 EWMA formulation stays finite and exact past 1024 events per key") {
    // the naive telescoped pow(2, i) form goes Inf/Inf=NaN at i >= 1024;
    // the blocked form must match a sequential recurrence to 1e-9 at any
    // depth. 2100 events, one key.
    val n = 2100
    val xs = Array.tabulate(n)(i => ((i * 37 % 100) + 1) / 10.0)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map(i =>
        org.apache.spark.sql.Row(i.toLong, 7L,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1000L + i)), xs(i))), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
    df.createOrReplaceTempView("graft_ewma_fixture")
    // run the gate query's exact shape against the fixture via the registry
    // closure: swap Tables.events by pointing at a temp dir is heavy; easier
    // to replicate the expression inline from the QueryDef — instead, call
    // the registered query on a directory is not possible here, so compute
    // the blocked form directly:
    import org.apache.spark.sql.expressions.Window
    val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"), col("b")).orderBy(col("i"))
    val wb = Window.partitionBy(col("user_id")).orderBy(col("b"))
    val run = df
      .withColumn("i", (row_number().over(wOrder) - 1).cast("long"))
      .withColumn("b", (col("i") / 32).cast("long"))
      .withColumn("e", (col("i") % 32).cast("double"))
      .withColumn("u", pow(lit(2.0), col("e")))
      .withColumn("s", sum(col("value") * col("u")).over(wRun))
      .withColumn("t", sum(col("u")).over(wRun))
    val blk = run.groupBy(col("user_id"), col("b"))
      .agg(max_by(col("s"), col("i")).as("sb"), max_by(col("t"), col("i")).as("tb"))
      .select(col("user_id"), col("b"),
        lag(col("sb"), 1).over(wb).as("sp1"), lag(col("tb"), 1).over(wb).as("tp1"),
        lag(col("sb"), 2).over(wb).as("sp2"), lag(col("tb"), 2).over(wb).as("tp2"))
    val c32 = pow(lit(2.0), lit(-32.0)); val c64 = pow(lit(2.0), lit(-64.0))
    val got = run.join(blk, Seq("user_id", "b"))
      .select(col("i"),
        ((col("s") + coalesce(col("sp1"), lit(0.0)) * c32
            + coalesce(col("sp2"), lit(0.0)) * c64)
          / (col("t") + coalesce(col("tp1"), lit(0.0)) * c32
            + coalesce(col("tp2"), lit(0.0)) * c64)).as("ewma"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.length === n)
    assert(got.forall(p => !p._2.isNaN && !p._2.isInfinite), "NaN/Inf in EWMA tail")
    // sequential recurrence oracle: num_i = x_i + num_{i-1}/2, den likewise
    var num = 0.0; var den = 0.0
    for (i <- 0 until n) {
      num = xs(i) + num / 2.0; den = 1.0 + den / 2.0
      assert(math.abs(got(i)._2 - num / den) < 1e-9, s"drift at i=$i")
    }
  }

  test("incremental near-dedup: index is scanned with the batch broadcast, never sort-merged") {
    import graft.llm.Dedup
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_plan_").toString
    // populate the index with batch 0, then PLAN (not run) batch 1
    Dedup.nearDedupIncrement(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir, 0.5, epoch = 0).collect()
    val inc = Dedup.nearDedupIncrement(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", dir, 0.5, epoch = 1)
    val plan = inc.queryExecution.executedPlan.toString
    // the joins against the at-rest index carry explicit broadcast hints
    // on the BATCH side: history must only ever be scanned — a sort-merge
    // join would shuffle the full index every increment
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"index side pays a shuffle it must not:\n$plan")
    // the dropped-id set must be STORAGE-backed (epoch-scoped scratch
    // parquet), never a driver local relation sized by the batch — the one
    // place a data-sized value could otherwise cross to the driver
    assert(!plan.contains("LocalTableScan"),
      s"increment result reads a driver-materialized local relation:\n$plan")
    assert(plan.contains("scratch"),
      s"increment result should read the scratch parquet:\n$plan")
  }

  test("semantic decontamination: bench broadcasts, partial agg collapses before the exchange") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") % 50 =!= 0).select(col("vec_id").as("id"), col("embedding").as("vec")),
      emb.filter(col("vec_id") % 50 === 0).select(col("vec_id").as("id"), col("embedding").as("vec")),
      threshold = 0.3)
    val plan = out.queryExecution.executedPlan.toString
    // the bench side must ride a broadcast (never a shuffled join), and
    // the per-row argmax must partial-aggregate map-side so the one
    // exchange carries (id, best) pairs, not the N×B score matrix
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"bench set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus pays a join shuffle:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial"),
      s"no map-side partial aggregate before the exchange:\n$plan")
  }

  test("frozen quantile streaming: a non-boundary trigger reads only the generation summary + batch") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import graft.llm.TextAnalysis
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val base = Files.createTempDirectory("graft_frozen_plan_").toString
    val staged = Paths.get(base, "staged"); Files.createDirectories(staged)
    def stage(parity: Int, name: String, mtimeSec: Long): Unit = {
      val tmp = Paths.get(base, "tmp_" + name).toString
      corpus.filter(pmod(col("doc_id"), lit(2)) === parity).coalesce(1).write.parquet(tmp)
      val part = scala.util.Using.resource(Files.list(Paths.get(tmp))) { s =>
        s.toArray.map(_.toString)
          .find(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).get
      }
      val dest = staged.resolve(name)
      Files.copy(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeSec * 1000))
    }
    stage(0, "a_even.parquet", 1000000000L)
    stage(1, "b_odd.parquet", 1000000100L)
    TextAnalysis.qualityQuantileStreamingFrozen(spark, staged.toString,
      corpus.schema, "doc_id", "text", q = 0.4,
      s"$base/state", s"$base/out", generationEvery = 2).collect()
    // PLAN (not run) the non-boundary trigger over the populated state:
    // its file scans must touch ONLY the frozen generation summary
    // (models/ + cuts/ — vocabulary-bounded + 1 row), never the
    // corpus-sized scores/ history or the terms/ epochs. This is the
    // input bound that makes per-trigger work O(batch), where the
    // moving-model leg (q170) reads the whole cumulative corpus forever.
    val plan = TextAnalysis.frozenQuantileVerdicts(
      corpus.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
      s"$base/state", 0L).queryExecution.executedPlan.toString
    assert(plan.contains("models"), s"plan must read the frozen model:\n$plan")
    assert(plan.contains("cuts"), s"plan must read the frozen cutoff:\n$plan")
    assert(!plan.contains("/scores"),
      s"non-boundary trigger reads the corpus-sized score history:\n$plan")
    assert(!plan.contains("/terms"),
      s"non-boundary trigger reads the term-count epochs:\n$plan")
    graft.ops.Layout.deleteRecursively(Paths.get(base))
  }

  test("NB classifier: model broadcasts into scoring; no sort-merge, no corpus-sized window spill") {
    import graft.llm.Classify
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("text"))
    val model = Classify.nbTrain(
      docs.withColumn("label", col("source")), "label", "text", buckets = 32)
    val plan = Classify.nbClassify(docs, "doc_id", "text", model, buckets = 32)
      .queryExecution.executedPlan.toString
    // the dense (labels x buckets) model is a constant: it must reach the
    // per-doc scoring join as a broadcast — a sort-merge there shuffles
    // the whole corpus's bucket counts against a tiny table. The ONE
    // permitted sort-merge is the final id-universe left join (both
    // sides corpus-sized, id-keyed — the zero-token-doc contract).
    assert(plan.contains("BroadcastHashJoin"), s"model not broadcast:\n$plan")
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    assert(smj <= 1, s"more than the id-universe sort-merge:\n$plan")
    assert(smj == 0 || plan.matches("(?s).*SortMergeJoin \\[id#.*"),
      s"sort-merge on a non-id key (the model join must broadcast):\n$plan")
  }

  test("fuzzy decontamination: bench inverted index broadcasts; training text never sort-merges") {
    import graft.llm.{Decontaminate, Dedup}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val tok = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("toks"))
    val plan = Decontaminate.fuzzyOverlapFromToks(
        tok, tok.filter(col("id") % 50 === 0), threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench side not broadcast:\n$plan")
  }

  test("URL operators are projection-level: normalize/domain plan no exchange; blocklist broadcasts") {
    import graft.llm.Urls
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), concat(lit("https://example.com/p/"),
        col("doc_id").cast("string")).as("url"))
    val proj = docs.select(Urls.normalizeUrl(col("url")),
      Urls.registrableDomain(Urls.hostOf(col("url"))).as("domain"))
    assert(!proj.queryExecution.executedPlan.toString.contains("Exchange"),
      "pure column arithmetic must not shuffle")
    val blocked = Urls.dropBlockedDomains(
      docs.withColumn("domain", Urls.registrableDomain(Urls.hostOf(col("url")))),
      "domain", Seq("bad.com").toDF("domain"))
    val bplan = blocked.queryExecution.executedPlan.toString
    assert(bplan.contains("Broadcast"), s"blocklist not broadcast:\n$bplan")
    assert(!bplan.contains("SortMergeJoin"), s"blocklist sort-merged:\n$bplan")
  }
}
