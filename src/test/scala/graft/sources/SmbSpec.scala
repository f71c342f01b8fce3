package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** scio-smb parity: bucketed+sorted write, then joins on the bucket
  * key must plan WITHOUT any Exchange (the whole point of SMB).
  */
class SmbSpec extends SparkSpec {

  test("co-bucketed join plans with no Exchange and matches plain join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    Smb.writeBucketed(li, "smb_test_li", "/tmp/graft_test/smb/li", 4, Seq("l_orderkey"))
    Smb.writeBucketed(ord, "smb_test_ord", "/tmp/graft_test/smb/ord", 4, Seq("o_orderkey"))

    // disable broadcast + AQE so the static plan shows the join shape
    val conf = spark.conf
    val oldThresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val joined = Smb.smbJoin(spark, "smb_test_li", "smb_test_ord",
        Seq("l_orderkey"), Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"SMB join must not shuffle:\n$plan")

      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      assert(sortedRows(joined) == sortedRows(expected))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  private def noAqeNoBroadcast[T](body: => T): T = {
    val conf = spark.conf
    val oldThresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      body
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  test("3-way co-bucketed join (SMBMultiJoin) plans with zero Exchange") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val cnt = li.groupBy(col("l_orderkey").as("c_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
    Smb.writeBucketed(li, "smb_m_li", "/tmp/graft_test/smb/m_li", 4, Seq("l_orderkey"))
    Smb.writeBucketed(ord, "smb_m_ord", "/tmp/graft_test/smb/m_ord", 4, Seq("o_orderkey"))
    Smb.writeBucketed(cnt, "smb_m_cnt", "/tmp/graft_test/smb/m_cnt", 4, Seq("c_orderkey"))
    noAqeNoBroadcast {
      val joined = Smb.smbJoinMulti(spark, Seq(
        "smb_m_li" -> Seq("l_orderkey"),
        "smb_m_ord" -> Seq("o_orderkey"),
        "smb_m_cnt" -> Seq("c_orderkey")))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"3-way SMB join must not shuffle:\n$plan")
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cnt, col("l_orderkey") === col("c_orderkey"))
      assert(sortedRows(joined) == sortedRows(expected))
    }
  }

  test("composite-key SMB: 2-col bucket spec joins and cogroups with no Exchange") {
    import spark.implicits._
    val left = Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "a", 3.0))
      .toDF("k1", "k2", "lv")
    val right = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("r1", "r2", "rv")
    Smb.writeBucketed(left, "smb_ck_l", "/tmp/graft_test/smb/ck_l", 2, Seq("k1", "k2"))
    Smb.writeBucketed(right, "smb_ck_r", "/tmp/graft_test/smb/ck_r", 2, Seq("r1", "r2"))
    noAqeNoBroadcast {
      val joined = Smb.smbJoin(spark, "smb_ck_l", "smb_ck_r",
        Seq("k1", "k2"), Seq("r1", "r2"))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"composite-key SMB join must not shuffle:\n$plan")
      assert(sortedRows(joined) == sortedRows(
        left.join(right, col("k1") === col("r1") && col("k2") === col("r2"))))
      val cg = Smb.smbCogroup(spark,
        Seq("smb_ck_l" -> Seq("k1", "k2"), "smb_ck_r" -> Seq("r1", "r2")),
        Seq("ka", "kb"))
      val cgPlan = cg.queryExecution.executedPlan.toString()
      assert(!cgPlan.contains("Exchange"), s"composite-key cogroup must not shuffle:\n$cgPlan")
      val byKey = cg.collect().map { r =>
        (r.getLong(0), r.getString(1)) ->
          ((r.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(0)).sorted,
            r.getSeq[org.apache.spark.sql.Row](3).map(_.getLong(0)).sorted))
      }.toMap
      assert(byKey.keySet == Set((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "c")))
      assert(byKey((1L, "a")) == ((Seq(1.0), Seq(10L))))
      assert(byKey((1L, "b")) == ((Seq(2.0), Seq.empty[Long])))
      assert(byKey((2L, "b")) == ((Seq.empty[Double], Seq(20L))))
    }
  }

  test("smbCogroup: shuffle-free, empty arrays for missing keys, per-source rows") {
    import spark.implicits._
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "lv")
    val right = Seq((2L, 20.0), (3L, 30.0)).toDF("rk", "rv")
    Smb.writeBucketed(left, "smb_cg_l", "/tmp/graft_test/smb/cg_l", 2, Seq("k"))
    Smb.writeBucketed(right, "smb_cg_r", "/tmp/graft_test/smb/cg_r", 2, Seq("rk"))
    val cg = noAqeNoBroadcast {
      val cg = Smb.smbCogroup(spark,
        Seq("smb_cg_l" -> Seq("k"), "smb_cg_r" -> Seq("rk")), Seq("key"))
      val plan = cg.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"cogroup must not shuffle:\n$plan")
      cg
    }
    val byKey = cg.collect().map { r =>
      r.getLong(0) -> (r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).sorted,
        r.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(0)).sorted)
    }.toMap
    assert(byKey.keySet == Set(1L, 2L, 3L))
    assert(byKey(1L) == (Seq("a", "b"), Seq.empty[Double]))
    assert(byKey(2L) == (Seq("c"), Seq(20.0)))
    assert(byKey(3L) == (Seq.empty[String], Seq(30.0)))
  }

  test("3-way smbCogroup: key absent from the FIRST source still collapses to one row") {
    import spark.implicits._
    // key 9 is missing from a but present in b AND c — joining on the
    // first source's key alone would emit TWO rows for it (null === 9
    // never matches); the coalesced-key fold must emit exactly one.
    val a = Seq((1L, "a1"), (2L, "a2")).toDF("ak", "av")
    val b = Seq((2L, 20.0), (9L, 90.0)).toDF("bk", "bv")
    val c = Seq((9L, 900), (1L, 100)).toDF("ck", "cv")
    Smb.writeBucketed(a, "smb_cg3_a", "/tmp/graft_test/smb/cg3_a", 2, Seq("ak"))
    Smb.writeBucketed(b, "smb_cg3_b", "/tmp/graft_test/smb/cg3_b", 2, Seq("bk"))
    Smb.writeBucketed(c, "smb_cg3_c", "/tmp/graft_test/smb/cg3_c", 2, Seq("ck"))
    val cg = noAqeNoBroadcast {
      Smb.smbCogroup(spark,
        Seq("smb_cg3_a" -> Seq("ak"), "smb_cg3_b" -> Seq("bk"), "smb_cg3_c" -> Seq("ck")),
        Seq("key"))
    }
    val rows = cg.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 9L),
      s"one row per key expected, got ${rows.map(_.getLong(0)).toSeq.sorted}")
    val byKey = rows.map { r =>
      r.getLong(0) -> ((r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).sorted,
        r.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(0)).sorted,
        r.getSeq[org.apache.spark.sql.Row](3).map(_.getInt(0)).sorted))
    }.toMap
    assert(byKey(9L) == ((Seq.empty[String], Seq(90.0), Seq(900))))
    assert(byKey(1L) == ((Seq("a1"), Seq.empty[Double], Seq(100))))
    assert(byKey(2L) == ((Seq("a2"), Seq(20.0), Seq.empty[Int])))
    // never-null contract holds for every source column
    assert(rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3)))
  }

  test("smbCogroup: sources sharing the SAME key name cogroup cleanly") {
    import spark.implicits._
    // the realistic SMB shape: every side keyed "user_id" — an
    // unqualified equi-condition on the shared name would be ambiguous
    val x = Seq((1L, "x1"), (5L, "x5")).toDF("user_id", "xv")
    val y = Seq((5L, 50.0), (7L, 70.0)).toDF("user_id", "yv")
    Smb.writeBucketed(x, "smb_cgn_x", "/tmp/graft_test/smb/cgn_x", 2, Seq("user_id"))
    Smb.writeBucketed(y, "smb_cgn_y", "/tmp/graft_test/smb/cgn_y", 2, Seq("user_id"))
    val cg = Smb.smbCogroup(spark,
      Seq("smb_cgn_x" -> Seq("user_id"), "smb_cgn_y" -> Seq("user_id")), Seq("user_id"))
    val byKey = cg.collect().map { r =>
      r.getLong(0) -> ((r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).sorted,
        r.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(0)).sorted))
    }.toMap
    assert(byKey.keySet == Set(1L, 5L, 7L))
    assert(byKey(5L) == ((Seq("x5"), Seq(50.0))))
    assert(byKey(7L) == ((Seq.empty[String], Seq(70.0))))
  }

  test("smbTransform: join→transform→bucketed write end-to-end with no Exchange, " +
    "output joins exchange-free") {
    // capture the write command's executed plans through a JobScope —
    // the frame-side executedPlan alone would not cover the write job
    noAqeNoBroadcast {
      val (_, scope) = graft.util.JobScope.run(spark, "smbTransform write") {
        Smb.smbTransform(spark, Seq(
          "smb_m_li" -> Seq("l_orderkey"), "smb_m_ord" -> Seq("o_orderkey")))(
          _.select(col("l_orderkey").as("t_orderkey"),
            (col("l_quantity") * col("o_totalprice")).as("weighted")))(
          "smb_m_out", "/tmp/graft_test/smb/m_out", 4, Seq("t_orderkey"))
      }
      val plans = scope.actions.map(_._2.executedPlan.toString())
      assert(plans.nonEmpty, "write command plan never arrived")
      plans.foreach(p => assert(!p.contains("Exchange"),
        s"smbTransform write must not shuffle:\n$p"))
      // aligned write ⇒ exactly one data file per bucket
      val files = new java.io.File("/tmp/graft_test/smb/m_out")
        .listFiles().count(f => f.getName.startsWith("part-"))
      assert(files == 4, s"expected 4 bucket files, got $files")
      // the output is a real SMB table: joining it back is exchange-free
      val back = Smb.smbJoin(spark, "smb_m_out", "smb_m_ord",
        Seq("t_orderkey"), Seq("o_orderkey"))
      val plan = back.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"output table join must not shuffle:\n$plan")
      // content matches the plain recomputation
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), (col("l_quantity") * col("o_totalprice")).as("weighted"))
      assert(sortedRows(spark.table("smb_m_out")) == sortedRows(expected))
    }
  }

  test("bucketed aggregation on the bucket key avoids the shuffle too") {
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val agg = spark.table("smb_test_li").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
      val plan = agg.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"bucketed agg must not shuffle:\n$plan")
    } finally conf.set("spark.sql.adaptive.enabled", oldAqe)
  }
}
