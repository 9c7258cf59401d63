package graft

import graft.operators.{BloomPrune, Ranks, Sampling, ZOrder}
import org.apache.spark.sql.functions._

/** Contracts for the scan-side scale operators: bloom-prefiltered
  * joins (exactness + plan shape), weighted sampling (determinism +
  * proportionality), and z-order clustering (bit math + file-level
  * locality of the written layout). */
class ScaleOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def probe = (1L to 2000L).map(i => (i, s"p$i")).toDF("id", "pv")
  private def build = (1L to 2000L by 13).map(i => (i, s"b$i")).toDF("bid", "bv")

  test("bloom semiJoin equals the exact semi join") {
    val got = BloomPrune.semiJoin(probe, $"id", build, $"bid", 1000, 0.03)
      .select("id").as[Long].collect().sorted.toSeq
    val want = probe.join(build, $"id" === $"bid", "left_semi")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want && want.nonEmpty)
  }

  test("bloom antiJoin equals the exact anti join") {
    val got = BloomPrune.antiJoin(probe, $"id", build, $"bid", 1000, 0.03)
      .select("id").as[Long].collect().sorted.toSeq
    val want = probe.join(build, $"id" === $"bid", "left_anti")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want && want.nonEmpty)
  }

  test("bloom semiJoin plans might_contain as a filter below the confirm join") {
    // parquet-backed probe: over a LocalRelation the optimizer folds the
    // whole filter at plan time, which hides the shape being asserted
    val dir = java.nio.file.Files.createTempDirectory("bloomp").toString
    probe.write.mode("overwrite").parquet(s"$dir/probe")
    val plan = BloomPrune.semiJoin(spark.read.parquet(s"$dir/probe"), $"id",
        build, $"bid", 1000, 0.03)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom filter missing from plan:\n$plan")
    // the prune must be a Filter on the probe side, not folded into the join
    val filterIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("Join")
    assert(filterIdx > joinIdx, // executedPlan prints top-down: join first, filter beneath it
      s"might_contain should sit under the join on the probe branch:\n$plan")
  }

  test("globalRowNumber equals the single-partition row_number, at any partition count") {
    import org.apache.spark.sql.expressions.Window
    // keys deliberately collide on the first order column so the
    // name_id tiebreak and range-partition boundary placement both get
    // exercised; hash-ish ordering decorrelates key from insert order
    val df = (1L to 500L)
      .map(i => (s"k${i % 97}", i, s"v$i")).toDF("k", "id", "v")
    val want = df.withColumn("rk",
        row_number().over(Window.orderBy($"k", $"id")).cast("long"))
      .select($"k", $"id", $"rk")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (parts <- Seq(1, 2, 7)) {
      val got = Ranks.globalRowNumber(df, Seq($"k", $"id"), "rk", partitions = parts)
        .select($"k", $"id", $"rk")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"distributed rank diverged at partitions=$parts")
    }
  }

  test("groupRowNumber equals the per-group window row_number, at any partition count") {
    import org.apache.spark.sql.expressions.Window
    // few groups x many rows per group — exactly the regime the
    // operator exists for; value collisions exercise the id tiebreak
    val df = (1L to 600L)
      .map(i => (s"g${i % 4}", (i * 31 % 50).toDouble, i)).toDF("g", "v", "id")
    val want = df.withColumn("rk", row_number().over(
        Window.partitionBy($"g").orderBy($"v", $"id")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
    for (parts <- Seq(1, 3, 8)) {
      val got = Ranks.groupRowNumber(df, Seq("g"), Seq($"v", $"id"), "rk",
          partitions = parts)
        .select($"g", $"id", $"rk")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"distributed group rank diverged at partitions=$parts")
    }
  }

  test("groupRunningSum equals the per-group exclusive window sum, at any partition count") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 600L)
      .map(i => (s"g${i % 4}", i, (i * 13 % 97) + 1)).toDF("g", "id", "w")
    val win = Window.partitionBy($"g").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("cum", coalesce(sum($"w").over(win), lit(0L)))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    for (parts <- Seq(1, 3, 8)) {
      val got = Ranks.groupRunningSum(df, Seq("g"), Seq($"id"), $"w", "cum",
          partitions = parts)
        .select($"g", $"id", $"cum")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"distributed group prefix sum diverged at partitions=$parts")
    }
  }

  test("weightedSample keeps rows in proportion to weight, deterministically") {
    val df = (1L to 20000L).map(i => (i, if (i % 2 == 0) 400L else 100L))
      .toDF("id", "w")
    val kept = Sampling.weightedSample(df, $"id", $"w", rate = 0.001)
    val again = Sampling.weightedSample(df, $"id", $"w", rate = 0.001)
      .select("id").as[Long].collect().toSet
    assert(kept.select("id").as[Long].collect().toSet == again, "not deterministic")
    val byW = kept.groupBy("w").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // expected inclusion: p=0.1 for w=100 (~1000 kept), p=0.4 for w=400 (~4000)
    assert(math.abs(byW(100L) - 1000.0) < 150, s"w=100 kept ${byW(100L)}")
    assert(math.abs(byW(400L) - 4000.0) < 300, s"w=400 kept ${byW(400L)}")
  }

  test("temperatureMix flattens the source distribution toward the target") {
    // 10k docs from a big source, 1k from a small one: at alpha=0.7 the
    // big source's rate must be strictly lower, the small one's
    // strictly higher, than the uniform 30% target — the whole point of
    // temperature mixing — and membership must be key-stable
    val df = ((1L to 10000L).map(i => (i, "big")) ++
      (20001L to 21000L).map(i => (i, "small"))).toDF("id", "src")
    val kept = Sampling.temperatureMix(df, $"id", $"src",
      alpha = 0.7, targetFraction = 0.3)
    val again = Sampling.temperatureMix(df, $"id", $"src",
      alpha = 0.7, targetFraction = 0.3).select("id").as[Long].collect().toSet
    assert(kept.select("id").as[Long].collect().toSet == again, "not deterministic")
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rateBig = bySrc("big") / 10000.0
    val rateSmall = bySrc("small") / 1000.0
    assert(rateBig < 0.3 && rateSmall > 0.3,
      s"big=$rateBig small=$rateSmall: alpha should flatten around the target")
    // the mixture still lands near the 30% total (md5 draw is uniform)
    val total = bySrc.values.sum.toDouble / 11000.0
    assert(math.abs(total - 0.3) < 0.03, s"total rate $total")
    // alpha=1 is proportional sampling: every source gets the target rate
    val prop = Sampling.temperatureMix(df, $"id", $"src",
      alpha = 1.0, targetFraction = 0.3)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(prop("big") / 10000.0 - 0.3) < 0.03)
    assert(math.abs(prop("small") / 1000.0 - 0.3) < 0.05)
  }

  test("zorder interleave2 matches hand-computed Morton codes") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L), (65535L, 65535L))
      .toDF("x", "y")
      .select(ZOrder.interleave2($"x", $"y", 16).as("z")).as[Long].collect().toSeq
    // (5,3): x=101 -> even positions 4,2,0 = 1,0,1; y=011 -> odd
    // positions 5,3,1 = 0,1,1; z = 0b011011 = 27
    assert(got == Seq(0L, 1L, 2L, 3L, 27L, (1L << 32) - 1))
  }

  test("zorder write clusters both dimensions into few files per rectangle") {
    val n = 64
    val df = for { x <- 0 until n; y <- 0 until n } yield (x.toLong, y.toLong)
    val out = java.nio.file.Files.createTempDirectory("zorder").toString + "/t"
    ZOrder.writeZOrdered(df.toDF("x", "y"), out, "x", "y", numFiles = 16, bits = 6)
    val withFile = spark.read.parquet(out)
      .select($"x", $"y", input_file_name().as("f"))
    // a point-ish range on EITHER dimension must touch a strict subset
    // of files — the property row-group min/max skipping relies on
    val filesTotal = withFile.select("f").distinct().count()
    val filesForX = withFile.filter($"x" === 7).select("f").distinct().count()
    val filesForY = withFile.filter($"y" === 7).select("f").distinct().count()
    assert(filesTotal >= 8, s"expected a multi-file layout, got $filesTotal")
    assert(filesForX <= filesTotal / 2, s"x slice touches $filesForX of $filesTotal files")
    assert(filesForY <= filesTotal / 2, s"y slice touches $filesForY of $filesTotal files")
  }

  test("zorder write yields narrow per-file footer ranges on BOTH dimensions") {
    // the quantitative data-skipping proof, from REAL parquet footers:
    // 64x64 grid into 16 z-ordered files => each file covers ~a 16x16
    // rectangle, so per-file min/max spread on x AND y is far below the
    // full range (an x-sorted write would give y spread = 63 everywhere)
    import graft.sources.ParquetSource
    val n = 64
    val df = (for { x <- 0 until n; y <- 0 until n } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val out = java.nio.file.Files.createTempDirectory("zstats").toString + "/t"
    ZOrder.writeZOrdered(df, out, "x", "y", numFiles = 16, bits = 6)
    for (c <- Seq("x", "y")) {
      val spreads = ParquetSource.parquetLongColStats(spark, out, c)
        .collect().filter(_.getLong(1) > 0)
        .map(r => r.getLong(3) - r.getLong(2))
      assert(spreads.nonEmpty)
      assert(spreads.max <= 31, s"$c spreads ${spreads.mkString(",")}")
    }
  }

  test("zorder 3-col interleave matches hand-computed codes and SQL mirror") {
    // (1,1,1) -> bits at positions 0,1,2 = 0b111 = 7
    // (5,3,2): x=101 -> pos 0,6 set (b0,b2); y=011 -> pos 1,4; z=010 -> pos 5
    //   = 1 + 64 + 2 + 16 + 32 = 115
    val df3 = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (1L, 1L, 1L), (5L, 3L, 2L)).toDF("x", "y", "z")
    val got = df3.select(
      ZOrder.interleave(Seq($"x", $"y", $"z"), 8).as("m")).as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 2L, 4L, 7L, 115L))
    df3.createOrReplaceTempView("zt3")
    val viaSql = spark.sql(
      s"SELECT ${ZOrder.interleaveSql(Seq("x", "y", "z"), 8).replace("//", " DIV ")} AS m FROM zt3")
      .as[Long].collect().toSeq
    assert(viaSql == got)
    spark.catalog.dropTempView("zt3")
  }

  test("zorder 3-col write yields narrow per-file footer ranges on ALL dimensions") {
    // 32x32x32 cube into 64 z-ordered files: aligned boundaries give
    // 8x8x8 boxes (spread 7); allow one octree level of
    // range-partition sampling misalignment, i.e. spread <= 15 — still
    // half the full range 31 on EVERY dimension, the same
    // parquet-footer proof as the 2-col test one dimension up (a
    // single-column sort would leave two dimensions at spread 31)
    import graft.sources.ParquetSource
    val n = 32
    val df = (for { x <- 0 until n; y <- 0 until n; z <- 0 until n }
      yield (x.toLong, y.toLong, z.toLong)).toDF("x", "y", "z")
    val out = java.nio.file.Files.createTempDirectory("zstats3").toString + "/t"
    ZOrder.writeZOrdered(df, out, Seq("x", "y", "z"), numFiles = 64, bits = 5)
    for (c <- Seq("x", "y", "z")) {
      val spreads = ParquetSource.parquetLongColStats(spark, out, c)
        .collect().filter(_.getLong(1) > 0)
        .map(r => r.getLong(3) - r.getLong(2)).sorted
      assert(spreads.nonEmpty)
      // sampled range boundaries let a few files straddle a top-level
      // octant split (those reach full spread); the DISTRIBUTION is the
      // pruning proof: 90% of files at <= half range on every dimension
      assert(spreads(spreads.length * 9 / 10) <= 15,
        s"$c p90 spread ${spreads(spreads.length * 9 / 10)}: ${spreads.mkString(",")}")
    }
  }

  test("zorder interleaveSql mirrors the column expression digit-for-digit") {
    val df = Seq((12345L, 54321L), (7L, 99L), (65535L, 0L)).toDF("x", "y")
    df.createOrReplaceTempView("zt")
    val viaSql = spark.sql(
      s"SELECT ${ZOrder.interleaveSql("x", "y", 16).replace("//", " DIV ")} AS z FROM zt")
      .as[Long].collect().toSeq
    val viaCol = df.select(ZOrder.interleave2($"x", $"y", 16).as("z")).as[Long].collect().toSeq
    assert(viaSql == viaCol)
    spark.catalog.dropTempView("zt")
  }

  test("compact merges shattered files with exact multiset fidelity") {
    import graft.sources.ParquetSource
    val df = (0L until 5000L).map(i => (i, s"row_$i")).toDF("id", "v")
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    df.repartition(40).write.parquet(s"$base/in")
    // huge target => everything fits one file
    val (nBefore, nAfter) = ParquetSource.compact(spark, s"$base/in", s"$base/out")
    assert(nBefore == 40 && nAfter == 1, s"($nBefore, $nAfter)")
    val back = spark.read.parquet(s"$base/out")
    assert(back.count() == 5000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("compact splits to the byte target when one file would be too big") {
    import graft.sources.ParquetSource
    val df = (0L until 20000L).map(i => (i, ("x" * 64) + i)).toDF("id", "v")
    val base = java.nio.file.Files.createTempDirectory("compact2").toString
    df.repartition(32).write.parquet(s"$base/in")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    val total = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/in"))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    // target ~ quarter of the payload => ~4 output files
    val (_, nAfter) = ParquetSource.compact(spark, s"$base/in", s"$base/out", total / 4)
    assert(nAfter >= 3 && nAfter <= 5, s"nAfter=$nAfter")
    assert(spark.read.parquet(s"$base/out").count() == 20000)
  }

  test("Bucketize.byQuantiles: count-driven exactness dispatch, ONE bucketing rule on both arms") {
    import graft.operators.Bucketize
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)), r.getString(5))).toSet
    val exact = rows(Bucketize.byQuantiles(li, "l_returnflag", "l_quantity",
      method = "exact"))
    // small corpus: the auto front door must BE the exact arm, rows included
    val auto = rows(Bucketize.byQuantiles(li, "l_returnflag", "l_quantity"))
    assert(auto == exact)
    assert(auto.forall(_._6 == "exact"))
    // a 1-row budget forces the sketch arm through the SAME front door
    val kll = Bucketize.byQuantiles(li, "l_returnflag", "l_quantity",
      rowBudget = 1L)
    val kllRows = rows(kll)
    assert(kllRows.forall(_._6 == "kll"))
    // one bucketing rule: per-group totals identical across arms, and
    // every kll cut point sits within the published rank envelope
    // (observed rank of cut k within n*k/10 ± (2eps*n + 2))
    def totals(s: Set[(String, Int, Long, Option[Any], Option[Any], String)]) =
      s.groupBy(_._1).view.mapValues(_.toSeq.map(_._3).sum).toMap
    assert(totals(kllRows) == totals(exact))
    import org.apache.spark.sql.graft.KllFunctions
    val eps = KllFunctions.normalizedRankError(KllFunctions.DefaultK)
    val nPer = li.groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // cumulative counts below bucket k's upper cut == observed rank
    kllRows.groupBy(_._1).foreach { case (g, rs) =>
      val n = nPer(g)
      val tol = math.ceil(2 * eps * n) + 2
      val cum = rs.toSeq.sortBy(_._2).scanLeft(0L)(_ + _._3).tail
      rs.toSeq.sortBy(_._2).zip(cum).filter(_._1._2 < 10).foreach {
        case ((_, k, _, _, _, _), c) =>
          assert(math.abs(c - n.toDouble * k / 10) <= tol,
            s"group $g cut $k: rank $c vs ${n.toDouble * k / 10} ± $tol")
      }
    }
  }

  test("Bucketize.byQuantiles: 2-dp bounds round the scaled product, like DuckDB's round") {
    import graft.operators.Bucketize
    import spark.implicits._
    // A constant group's every cut point is its value, so bucket 1's
    // `hi` is that value rounded to 2 dp. 52724.244999999995 is the
    // sf0.001 `l_extendedprice` median of the `R` flag: x * 100 is
    // exactly 5272424.5, which DuckDB (std::round(x * 100) / 100)
    // rounds to .25 where Spark's round(x, 2) gave .24.
    val df = Seq.fill(4)(("g", 52724.244999999995)).toDF("grp", "v")
    val hi = Bucketize.byQuantiles(df, "grp", "v", nBuckets = 4, method = "exact")
      .collect().map(_.getDouble(4)).toSeq
    assert(hi == Seq(52724.25), s"hi bounds: $hi")
  }

  test("Bucketize.byQuantiles: NULL values get no bucket (both arms)") {
    import graft.operators.Bucketize
    import spark.implicits._
    // 20 valued rows + 5 NULLs per group: the NULLs must not inflate
    // bucket 1 (they used to — NULL compares false against every cut)
    val df = (Seq.tabulate(20)(i => ("g", Some(i.toDouble))) ++
        Seq.fill(5)(("g", Option.empty[Double])))
      .toDF("grp", "v")
    for (m <- Seq("exact", "kll")) {
      val out = Bucketize.byQuantiles(df, "grp", "v", nBuckets = 4, method = m)
        .collect()
      assert(out.map(_.getLong(2)).sum == 20L,
        s"$m arm counted NULL rows: ${out.mkString(";")}")
    }
  }
}
