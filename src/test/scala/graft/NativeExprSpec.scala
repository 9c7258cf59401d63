package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.graft.NativeExpressions
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** Pins the native codegen'd sketch expressions to the higher-order-
  * function reference formulations: same inputs => identical outputs.
  * The HOF versions define the semantics; the native ones are the fast
  * path used by the Dedup operators. */
class NativeExprSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b", // too short for 3-grams -> empty hash array
    "one two three four five six seven eight nine ten eleven twelve",
    "spark scale shuffle partition broadcast join agg window",
    "the quick brown fox jumps over the lazy cat").toDF("t")

  private def hashed = docs
    .withColumn("toks", tokens(col("t")))
    .withColumn("sh", shingles(col("toks"), 3))
    .withColumn("hs", shingleHashes(col("sh")))

  test("native minhash signature equals the HOF formulation") {
    val k = 64
    val both = hashed
      .withColumn("a", TextFunctions.minhashSignature(col("hs"), k))
      .withColumn("b", NativeExpressions.minhashSignature(col("hs"), k))
      .select(col("a"), col("b")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native simhash equals the HOF formulation, incl. empty arrays") {
    val both = hashed
      .withColumn("hofFp", expr(
        """aggregate(sequence(0, 63), 0L, (fp, i) ->
             fp + CASE WHEN aggregate(hs, 0L,
                 (acc, h) -> acc + CASE WHEN (shiftright(h, i) & 1) = 1 THEN 1L ELSE -1L END) > 0
               THEN shiftleft(1L, i) ELSE 0L END)"""))
      .withColumn("natFp", NativeExpressions.simhash64(col("hs")))
      .select(col("hofFp"), col("natFp")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native word shingles equal the HOF formulation incl. dedup and order") {
    val both = docs
      .withColumn("toks", tokens(col("t")))
      .withColumn("a", shingles(col("toks"), 3))
      .withColumn("b", NativeExpressions.wordShingles(col("toks"), 3))
      .select(col("a"), col("b")).collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    // repeated-window dedup keeps first occurrence, like array_distinct
    val rep = Seq("a b a b a b").toDF("t")
      .select(NativeExpressions.wordShingles(tokens(col("t")), 2))
      .collect()(0).getSeq[String](0)
    assert(rep == Seq("a b", "b a"))
  }

  test("native word ngrams equal the HOF formulation, keeping every occurrence") {
    val both = docs
      .withColumn("toks", tokens(col("t")))
      .withColumn("a", expr(
        """CASE WHEN size(toks) >= 2
             THEN transform(sequence(0, size(toks) - 2),
                            i -> concat_ws(' ', slice(toks, i + 1, 2)))
             ELSE CAST(array() AS array<string>) END"""))
      .withColumn("b", NativeExpressions.wordNgrams(col("toks"), 2))
      .select(col("a"), col("b")).collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // repeats are preserved in order (the difference from wordShingles)
    val rep = Seq("a b a b a b").toDF("t")
      .select(NativeExpressions.wordNgrams(tokens(col("t")), 2))
      .collect()(0).getSeq[String](0)
    assert(rep == Seq("a b", "b a", "a b", "b a", "a b"))
    // shorter than n => empty, exactly n => one
    val edge = Seq("one", "one two").toDF("t")
      .select(NativeExpressions.wordNgrams(tokens(col("t")), 2).as("g"))
      .orderBy(org.apache.spark.sql.functions.size(col("g"))).collect()
    assert(edge(0).getSeq[String](0) == Seq())
    assert(edge(1).getSeq[String](0) == Seq("one two"))
  }

  test("native md5 hashes equal the portableHash64 Column formulation") {
    val both = docs
      .withColumn("sh", shingles(tokens(col("t")), 3))
      .withColumn("a", transform(col("sh"), s => TextFunctions.portableHash64(s)))
      .withColumn("b", NativeExpressions.md5Hashes64(col("sh")))
      .select(col("a"), col("b")).collect()
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // a known vector: md5("abc") = 900150983cd24fb0..., first 16 hex
    // chars as signed big-endian 64-bit
    val known = Seq(Seq("abc")).toDF("sh")
      .select(NativeExpressions.md5Hashes64(col("sh"))).collect()(0).getSeq[Long](0)
    assert(known == Seq(java.lang.Long.parseUnsignedLong("900150983cd24fb0", 16)))
  }

  test("native expressions survive both codegen and interpreted paths") {
    // force interpreted fallback by evaluating through a filter too
    val n = hashed.withColumn("fp", NativeExpressions.simhash64(col("hs")))
      .filter(col("fp") =!= 0L).count()
    assert(n >= 3)
  }

  // ---- vector expressions ---------------------------------------------------

  private def vecs = Seq(
    (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (Array(-1.5f, 0.0f, 2.25f), Array(0.5f, -3.0f, 1.0f)),
    (Array(0.1f, 0.2f, 0.3f), Array(0.1f, 0.2f, 0.3f)),
    (Array(1e-3f, -1e3f, 7.5f), Array(2.5f, 1e-2f, -4.0f))).toDF("a", "b")

  test("native vec_dot and vec_cosine are bit-equal to the HOF formulations") {
    import graft.functions.VectorFunctions._
    val rows = vecs.select(
      dotd(col("a"), col("b")).as("dn"), dotdHof(col("a"), col("b")).as("dh"),
      cosine(col("a"), col("b")).as("cn"), cosineHof(col("a"), col("b")).as("ch")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "dot bits differ")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), "cosine bits differ")
    }
  }

  test("native vec_dot/vec_cosine null out on length mismatch and zero norms") {
    import graft.functions.VectorFunctions._
    val bad = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)), // length mismatch
      (Array(0.0f, 0.0f), Array(0.0f, 0.0f))        // zero norm (cosine only)
    ).toDF("a", "b")
    val rows = bad.select(dotd(col("a"), col("b")).as("d"),
      cosine(col("a"), col("b")).as("c")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(!rows(1).isNullAt(0) && rows(1).getDouble(0) == 0.0)
    assert(rows(1).isNullAt(1)) // 0/0 divide -> null, like Spark's Divide
  }

  test("native sign-LSH bucket equals the HOF formulation on real embeddings") {
    import graft.functions.VectorFunctions._
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val planes = signLshPlanes(bits = 8, dim = emb.select(size(col("embedding")))
      .first().getInt(0), seed = 7L)
    val both = emb.select(
      signLshBucket(col("embedding"), planes).as("n"),
      signLshBucketHof(col("embedding"), planes).as("h")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native sign-LSH bucket yields 0 on length-mismatched vectors (HOF null semantics)") {
    val planes = graft.functions.VectorFunctions.signLshPlanes(bits = 4, dim = 3)
    val short = Seq(Array(1.0f, 2.0f)).toDF("v")
      .select(graft.functions.VectorFunctions.signLshBucket(col("v"), planes).as("bk"))
      .collect()
    assert(short(0).getLong(0) == 0L)
  }

  test("native char entropy equals the explode/groupBy formulation") {
    val texts = Seq(
      "aaaa",                       // single symbol -> entropy 0
      "abab",                       // two symbols, uniform -> ln 2
      "the quick brown fox",        // mixed ascii incl. spaces
      "h\u00e9llo w\u00f6rld \u00e9\u00e9",   // non-ascii spill path
      "x").toDF("t").filter(length(col("t")) > 0)
    // reference: the former shuffle-based shape, term-for-term the
    // same formula the DuckDB oracle runs
    val cnt = texts
      .select(col("t"), explode(split(col("t"), "")).as("c"))
      .filter(col("c") =!= "")
      .groupBy(col("t"), col("c")).agg(count(lit(1)).as("k"))
    val tot = cnt.groupBy(col("t")).agg(sum(col("k")).cast("double").as("n"))
    val want = cnt.join(tot, "t")
      .groupBy(col("t"), col("n"))
      .agg(round(-sum((col("k") / col("n")) * log(col("k") / col("n"))), 6).as("h"),
        count(lit(1)).as("d"))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getLong(3))).toMap
    val got = texts
      .select(col("t"), NativeExpressions.charEntropy(col("t")).as("s"))
      .select(col("t"), round(col("s.entropy"), 6).as("h"), col("s.n_distinct").as("d"))
      .collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (h, d) = want(r.getString(0))
      assert(r.getDouble(1) == h, s"entropy for '${r.getString(0)}'")
      assert(r.getLong(2) == d, s"distinct for '${r.getString(0)}'")
    }
  }

  test("cdc_chunks boundaries are content-defined: chunks realign after a prefix insertion") {
    import spark.implicits._
    val base = (1 to 200).map(i => s"tok${i % 37}x$i").mkString(" ")
    val shifted = "inserted sentence goes here " + base
    val rows = Seq(("a", base), ("b", shifted)).toDF("id", "text")
      .select(col("id"), org.apache.spark.sql.graft.NativeExpressions
        .cdcChunks(split(col("text"), " "), 4, 16).as("chunks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // chunks must total back to the token stream (lossless cover)
    assert(rows("a").mkString(" ") == base)
    assert(rows("b").mkString(" ") == shifted)
    // content-defined: all chunks of `a` except possibly the first
    // reappear verbatim in `b` despite the 4-token prefix shift \u2014
    // the property fixed-width chunking cannot have
    val bSet = rows("b").toSet
    val realigned = rows("a").tail.count(bSet.contains)
    assert(rows("a").size >= 5, s"fixture too short: ${rows("a").size} chunks")
    assert(realigned == rows("a").size - 1,
      s"only $realigned of ${rows("a").size - 1} tail chunks realigned")
  }

  test("strip_accents/nfc_normalize match DuckDB's built-ins on the reference set") {
    import spark.implicits._
    // expected values read from DuckDB strip_accents: combining marks
    // go, base-letter modifications (stroke/slash/sharp-s) survive
    val want = Seq(
      ("caf\u00e9", "cafe"),
      ("m\u00fcnchen", "munchen"),
      ("\u00f1and\u00fa", "nandu"),
      ("cr\u00e8me", "creme"),
      ("\u0141\u00f3d\u017a", "\u0141odz"),   // \u0141 survives, \u00f3 \u017a stripped
      ("\u00d8rsted", "\u00d8rsted"),         // \u00d8 survives untouched
      ("stra\u00dfe", "stra\u00dfe"),         // \u00df survives untouched
      ("na\u00efve", "naive"),
      ("se\u00f1or", "senor"),
      ("Z\u00fcrich", "Zurich"))
    val got = want.map(_._1).toDF("s")
      .select(col("s"),
        org.apache.spark.sql.graft.NativeExpressions.stripAccents(
          org.apache.spark.sql.graft.NativeExpressions.nfcNormalize(col("s"))).as("x"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    want.foreach { case (in, out) =>
      assert(got(in) == out, s"strip('$in') = '${got(in)}', want '$out'")
    }
    // NFC: decomposed e + combining-acute composes to single-codepoint e-acute
    val nfc = Seq("e\u0301").toDF("s")
      .select(org.apache.spark.sql.graft.NativeExpressions.nfcNormalize(col("s")))
      .collect()(0).getString(0)
    assert(nfc == "\u00e9")
  }

  test("jaro_winkler matches DuckDB's jaro_winkler_similarity digit for digit") {
    import spark.implicits._
    // reference values read from DuckDB jaro_winkler_similarity \u2014
    // incl. its edge semantics: empty (and both-empty) -> 0.0, the
    // 0.7 boost threshold, half-transposition counting
    val want = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("small ring", "small rign", 0.98),
      ("red widget", "red widgte", 0.98),
      ("blue bolt", "hot gear", 0.32407407407407407),
      ("a", "b", 0.0),
      ("ab", "ba", 0.0),
      ("abcdefgh", "bacdefgh", 0.9583333333333334))
    val got = want.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(col("a"), col("b"), org.apache.spark.sql.graft.NativeExpressions
        .jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    want.foreach { case (a, b, v) =>
      assert(got((a, b)) == v, s"jw('$a','$b') = ${got((a, b))}, want $v")
    }
  }

  test("cdc_chunks keeps sub-window documents as one whole chunk") {
    import spark.implicits._
    // shorter than the w=4 hash window: no boundary can fire, but the
    // content must NOT be dropped (it used to come back as [])
    val got = Seq(("s", "just three tokens"), ("e", ""))
      .toDF("id", "text")
      .select(col("id"), org.apache.spark.sql.graft.NativeExpressions
        .cdcChunks(array_remove(split(col("text"), " "), ""), 4, 16).as("chunks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("s") == Seq("just three tokens"))
    assert(got("e") == Seq.empty)
  }

  test("nearest centroid == the literal folds bit for bit, codegen and interpreted") {
    import NativeExprSpec._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.{Codebook, NearestCentroidExpr}
    import org.apache.spark.sql.types._
    val dim = AnnSpec.dim
    val fixture = AnnSpec.clusteredRows
    def boxed(v: Seq[Double]): Seq[java.lang.Double] = v.map(Double.box)
    // special vectors: null element, length mismatch, zero norm, NaN,
    // whole-vector null; an exact copy of a centroid
    val specials: Seq[(Long, Seq[java.lang.Double])] = Seq(
      (50001L, boxed(fixture(3)._2).updated(5, null)),
      (50002L, boxed(fixture(3)._2.take(dim - 1))),
      (50003L, boxed(Seq.fill(dim)(0.0))),
      (50004L, boxed(fixture(3)._2.updated(7, Double.NaN))),
      (50005L, null),
      (50006L, boxed(fixture(40)._2)))
    val rows = fixture.map { case (id, v) => (id, boxed(v)) } ++ specials
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }, 2),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = true)))))
    // 16 fixture centroids, a zero-norm centroid, and an exact duplicate
    // of fixture(40) under a SMALLER id placed after it: every vector
    // ties on that pair, and the smaller id must win
    val base = fixture.indices.filter(_ % 13 == 1).take(16).map(fixture(_)) ++
      Seq((77777L, Seq.fill(dim)(0.0)), (39L, fixture(40)._2))
    assert(base.exists(_._1 == fixture(40)._1) && fixture(40)._1 > 39L)
    val books = Seq(base, base :+ ((88888L, Seq.fill(dim)(0.5).updated(2, Double.NaN))))
    val vType = ArrayType(DoubleType, containsNull = true)
    val inputs = rows.map { case (id, v) =>
      id -> InternalRow(if (v == null) null else new GenericArrayData(v.toArray[Any]))
    }
    def read(r: InternalRow): (Option[Long], Long) =
      (if (r.isNullAt(0)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(0))),
        r.getLong(1))
    def bits(x: Any): Option[Long] =
      Option(x).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))
    books.foreach { cents =>
      val sorted = cents.sortBy(_._1)
      val ref = df.select(col("id"), argmaxCent(col("v"), cents).as("cos"),
          argminCentL2(col("v"), cents).as("l2"), argminCodeL2(col("v"), sorted).as("code"))
        .collect().map(r => r.getLong(0) -> r).toMap
      def nce(book: Codebook, l2: Boolean) = NearestCentroidExpr(
        BoundReference(0, vType, nullable = true), Literal(0L), book, l2)
      // (expression, expected (score bits, id) from the fold's row); the
      // code fold returns only the position, so its score is not compared
      val cases: Seq[(NearestCentroidExpr, Row => (Option[Long], Long), Boolean)] = Seq(
        (nce(Codebook.flat(cents), l2 = false),
          r => (bits(r.getStruct(1).get(0)), -r.getStruct(1).getLong(1)), true),
        (nce(Codebook.flat(cents), l2 = true),
          r => (bits(r.getStruct(2).get(0)), r.getStruct(2).getLong(1)), true),
        (nce(Codebook(sorted.zipWithIndex.map { case ((_, v), i) => (0L, i + 1L, v) }),
          l2 = true), r => (None, r.getInt(3).toLong), false))
      cases.foreach { case (e, want, scored) =>
        val compiled = GenerateUnsafeProjection.generate(Seq(e))
        def view(x: (Option[Long], Long)) = if (scored) x else (None, x._2)
        inputs.foreach { case (id, in) =>
          val w = want(ref(id))
          val gen = view(read(compiled(in).getStruct(0, 2)))
          val interp = view(read(e.eval(in).asInstanceOf[InternalRow]))
          assert(gen == w, s"codegen, vec $id: $gen != $w")
          assert(interp == w, s"interpreted, vec $id: $interp != $w")
        }
      }
      // the fixture reaches every corner it claims to (without the NaN
      // centroid, which outranks every cosine)
      if (cents eq base) {
        val cosOf = (id: Long) => ref(id).getStruct(1)
        assert(Seq(50001L, 50002L, 50003L, 50005L).forall(cosOf(_).isNullAt(0)))
        assert(-cosOf(50003L).getLong(1) == sorted.head._1)
        assert(cosOf(50004L).getDouble(0).isNaN)
        assert(-cosOf(50006L).getLong(1) == 39L && cosOf(50006L).getDouble(0) == 1.0)
        assert(ref(50002L).getStruct(2).isNullAt(0))
      }
    }
    // float vectors (the parquet embeddings' type) through whole-stage codegen
    val f = df.select(col("id"), expr("transform(v, x -> cast(x as float))").as("f"))
    val cb = Codebook.flat(base)
    f.select(NativeExpressions.nearestCentroid(col("f"), lit(0L), cb, l2 = false).as("n"),
        argmaxCent(col("f"), base).as("r"),
        NativeExpressions.nearestCentroid(col("f"), lit(0L), cb, l2 = true).as("nl"),
        argminCentL2(col("f"), base).as("rl"))
      .collect().foreach { r =>
        val (n, o, nl, ol) = (r.getStruct(0), r.getStruct(1), r.getStruct(2), r.getStruct(3))
        assert(bits(n.get(0)) == bits(o.get(0)) && n.getLong(1) == -o.getLong(1))
        assert(bits(nl.get(0)) == bits(ol.get(0)) && nl.getLong(1) == ol.getLong(1))
      }
  }

  test("nearestN == the crossJoin + row_number window bit for bit, codegen and interpreted") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.{Codebook, NearestCentroidExpr}
    import org.apache.spark.sql.types._
    val dim = AnnSpec.dim
    val fixture = AnnSpec.clusteredRows
    def boxed(v: Seq[Double]): Seq[java.lang.Double] = v.map(Double.box)
    val vecs: Seq[(Long, Seq[java.lang.Double])] =
      fixture.map { case (id, v) => (id, boxed(v)) } ++ Seq(
        (50001L, boxed(fixture(3)._2).updated(5, null)),       // null element
        (50002L, boxed(fixture(3)._2.take(dim - 1))),          // length mismatch
        (50003L, boxed(Seq.fill(dim)(0.0))),                   // zero norm
        (50004L, boxed(fixture(3)._2.updated(7, Double.NaN))), // NaN vector
        (50005L, null),                                        // null vector
        (50006L, boxed(fixture(40)._2)))                       // a centroid's copy
    // 16 fixture centroids, a zero-norm centroid, an exact duplicate of
    // fixture(40) under a smaller id (an exact score tie) and a NaN
    // centroid, dealt round-robin into groups 0, 1 and 2
    val cents = (fixture.indices.filter(_ % 13 == 1).take(16).map(fixture(_)) ++
      Seq((77777L, Seq.fill(dim)(0.0)), (39L, fixture(40)._2),
        (88888L, Seq.fill(dim)(0.5).updated(2, Double.NaN))))
      .zipWithIndex.map { case ((id, v), i) => ((i % 3).toLong, id, v) }
    assert(cents.exists(_._2 == fixture(40)._1) && fixture(40)._1 > 39L)
    val book = Codebook(cents)
    // group sets per vector: one key, several, a missing key among them,
    // only a missing key, a repeated key
    val groupSets = Seq(Seq(0L), Seq(1L, 2L), Seq(0L, 1L, 99L), Seq(99L), Seq(2L, 2L), Seq(0L, 1L, 2L))
    val rows = vecs.zipWithIndex.map { case ((id, v), i) =>
      (id, v, if (id > 50000L) Seq(0L, 1L, 2L) else groupSets(i % groupSets.size)) }
    val vType = ArrayType(DoubleType, containsNull = true)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v, g) => Row(id, v, g) }, 2),
      StructType(Seq(StructField("id", LongType), StructField("v", vType),
        StructField("g", ArrayType(LongType, containsNull = false)))))
    val centDf = cents.map { case (g, id, v) => (g, id, v) }.toDF("_grp", "_cent_id", "_cent_vec")
    type Ranked = Seq[(Option[Long], Long)]
    def bits(x: Any): Option[Long] =
      Option(x).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))
    // the replaced formulation: every (vector, centroid of its groups)
    // pair scored, then a row_number window keeps the n best per vector
    def reference(n: Int, l2: Boolean): Map[Long, Ranked] = {
      val score =
        if (l2) round(graft.functions.VectorFunctions.dotd(col("v"), col("v")) -
          lit(2.0) * graft.functions.VectorFunctions.dotd(col("v"), col("_cent_vec")) +
          aggregate(col("_cent_vec"), lit(0.0), (a, x) => a + x * x), 6)
        else round(graft.functions.VectorFunctions.cosine(col("v"), col("_cent_vec")), 6)
      val order = if (l2) col("_s").asc else col("_s").desc
      val got = df.select(col("id"), col("v"), explode(array_distinct(col("g"))).as("_grp"))
        .join(broadcast(centDf), Seq("_grp"))
        .select(col("id"), col("_cent_id"), score.as("_s"))
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col("id")).orderBy(order, col("_cent_id"))))
        .filter(col("_rk") <= n)
        .collect().groupBy(_.getLong(0)).map { case (id, rs) =>
          id -> rs.sortBy(_.getInt(3)).map(r => (bits(r.get(2)), r.getLong(1))).toSeq }
      rows.map(r => r._1 -> got.getOrElse(r._1, Seq.empty)).toMap
    }
    def entry(e: InternalRow): (Option[Long], Long) =
      (if (e.isNullAt(0)) None else bits(e.getDouble(0)), e.getLong(1))
    def read(a: ArrayData): Ranked = (0 until a.numElements()).map(i => entry(a.getStruct(i, 2)))
    val inputs = rows.map { case (id, v, g) =>
      id -> InternalRow(if (v == null) null else new GenericArrayData(v.toArray[Any]),
        new GenericArrayData(g.toArray[Any]))
    }
    for (l2 <- Seq(false, true); n <- Seq(1, 4, 40)) { // 40 > every group
      val want = reference(n, l2)
      val e = NearestCentroidExpr(BoundReference(0, vType, nullable = true),
        BoundReference(1, ArrayType(LongType, containsNull = false), nullable = false), book, l2, Some(n))
      val compiled = GenerateUnsafeProjection.generate(Seq(e))
      inputs.foreach { case (id, in) =>
        val gen = read(compiled(in).getArray(0))
        val interp = read(e.eval(in).asInstanceOf[ArrayData])
        assert(gen == want(id), s"codegen l2=$l2 n=$n, vec $id: $gen != ${want(id)}")
        assert(interp == want(id), s"interpreted l2=$l2 n=$n, vec $id: $interp != ${want(id)}")
      }
      // and through a whole-stage-codegen plan
      val planned = df.select(col("id"),
          NativeExpressions.nearestCentroids(col("v"), col("g"), book, n, l2).as("r"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Row](1).map(e => (bits(e.get(0)), e.getLong(1)))).toMap
      rows.foreach { case (id, _, _) => assert(planned(id) == want(id), s"plan l2=$l2 n=$n, vec $id") }
      if (!l2 && n == 40) {
        // the fixture reaches every corner it claims to: null scores
        // (null vector, null element, length mismatch, zero norm — the
        // NaN centroid still scores NaN against a zero vector), NaN
        // scores, a group set with no centroid, and the exact tie
        val isNaN = (e: (Option[Long], Long)) => e._1.exists(b => java.lang.Double.longBitsToDouble(b).isNaN)
        assert(want(50005L).size == cents.size && want(50005L).forall(_._1.isEmpty))
        assert(Seq(50001L, 50002L, 50003L).forall(id =>
          want(id).size == cents.size && want(id).filter(_._2 != 88888L).forall(_._1.isEmpty)))
        assert(want(50004L).forall(isNaN) && want(50006L).head._2 == 88888L && isNaN(want(50006L).head))
        assert(rows.exists(r => r._3 == Seq(99L) && want(r._1).isEmpty))
        val ranked = want(50006L)
        val t = ranked.indexWhere(_._2 == 39L)
        assert(t > 0 && ranked(t + 1)._2 == fixture(40)._1 && ranked(t)._1 == ranked(t + 1)._1 &&
          ranked(t)._1 == bits(1.0), s"exact tie must rank the smaller id first: $ranked")
      }
    }
    // nearest is nearestN's n = 1 case, group by group
    for (l2 <- Seq(false, true); g <- Seq(0L, 1L, 2L, 99L)) {
      val one = NearestCentroidExpr(BoundReference(0, vType, nullable = true), Literal(g), book, l2)
      val top = NearestCentroidExpr(BoundReference(0, vType, nullable = true), Literal(g), book, l2, Some(1))
      val (cOne, cTop) = (GenerateUnsafeProjection.generate(Seq(one)), GenerateUnsafeProjection.generate(Seq(top)))
      inputs.foreach { case (id, in) =>
        val single = Option(one.eval(in).asInstanceOf[InternalRow]).map(entry)
        assert(read(top.eval(in).asInstanceOf[ArrayData]).headOption == single, s"eval g=$g l2=$l2 vec $id")
        val genOne = cOne(in)
        val genSingle = if (genOne.isNullAt(0)) None else Some(entry(genOne.getStruct(0, 2)))
        assert(read(cTop(in).getArray(0)).headOption == genSingle, s"codegen g=$g l2=$l2 vec $id")
        assert(genSingle == single, s"nearest codegen != eval, g=$g l2=$l2 vec $id")
      }
    }
  }
}

object NativeExprSpec {
  import graft.functions.VectorFunctions._

  /** The literal-fold nearest-centroid formulations NearestCentroidExpr
    * replaced, kept as its reference: cosine argmax as array_max over
    * (6-dp rounded cosine, -id) structs, so ties go to the smallest id. */
  def argmaxCent(vec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    array_max(array(cents.map { case (cid, v) =>
      struct(round(cosine(vec, typedLit(v)), 6).as("c"), lit(-cid).as("negid"))
    }: _*))

  /** Squared L2 distance to a literal centroid, 6-dp rounded, as
    * x·x − 2·x·c + c·c with c·c a driver-side left-to-right fold. */
  private def distL2(vec: Column, v: Seq[Double]): Column = {
    val cv = typedLit(v)
    round(dotd(vec, vec) - lit(2.0) * dotd(vec, cv) +
      lit(v.foldLeft(0.0)((a, x) => a + x * x)), 6)
  }

  /** Nearest centroid by squared L2: struct(d, cid), smallest cid on ties. */
  def argminCentL2(vec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    array_min(array(cents.map { case (cid, v) =>
      struct(distL2(vec, v).as("d"), lit(cid).as("cid"))
    }: _*))

  /** Nearest centroid POSITION (1-based) over a cent_id-sorted codebook. */
  def argminCodeL2(vec: Column, sorted: Seq[(Long, Seq[Double])]): Column =
    array_min(array(sorted.zipWithIndex.map { case ((_, v), i) =>
      struct(distL2(vec, v).as("d"), lit(i + 1).as("pos"))
    }: _*))("pos")
}
