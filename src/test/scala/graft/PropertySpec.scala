package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.functions.{HashKernels, Porter2}
import graft.operators.{DocFilter, FilterCompiler}

/** Property-based invariants (SURVEY §5: iterator algebra, minhash
  * estimator, stemmer safety). */
class PropertySpec extends SparkSuite {
  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }
  import spark.implicits._

  private val idList = Gen.listOf(Gen.chooseNum(1L, 40L)).map(_.distinct.sorted)

  test("intersection is a subset of each input; union is sorted dedup of both") {
    check(Prop.forAll(idList, idList) { (a: List[Long], b: List[Long]) =>
      val terms = (a.map(("f:a", _)) ++ b.map(("f:b", _)))
        .map { case (t, p) => (0L, t, p) }.toDF("user_id", "term", "point_id")
      val universe = (1L to 40L).map((0L, _)).toDF("user_id", "point_id")
      def run(f: DocFilter): Seq[Long] =
        FilterCompiler.compile(f, terms, universe)
          .select("point_id").collect().map(_.getLong(0)).sorted.toSeq
      val inter = run(DocFilter.And(Seq(
        DocFilter.Contains("f", "a", keyword = true),
        DocFilter.Contains("f", "b", keyword = true))))
      val union = run(DocFilter.Or(Seq(
        DocFilter.Contains("f", "a", keyword = true),
        DocFilter.Contains("f", "b", keyword = true))))
      inter == a.toSet.intersect(b.toSet).toSeq.sorted &&
        union == (a ++ b).distinct.sorted
    }, 20)
  }

  test("ngram_counts matches a naive sliding-window reference for random token arrays") {
    import graft.functions.GraftFunctions.{ngram_counts, tokenize}
    val tokens = Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd", "e")).map(_.take(30))
    val ns = Gen.chooseNum(1, 4)
    check(Prop.forAll(tokens, ns) { (toks: List[String], n: Int) =>
      val text = toks.mkString(" ")
      val got = Seq(Tuple1(text)).toDF("text")
        .select(explode(ngram_counts(tokenize(col("text")), n)).as("tc"))
        .select("tc.term", "tc.tf")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val ref = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (g, occ) => g -> occ.length.toLong }
      got == ref
    }, 40)
  }

  test("minhash signature equality fraction tracks true Jaccard (+/- 0.25 at k=128)") {
    val sets = Gen.chooseNum(0, 1000).flatMap { base =>
      Gen.chooseNum(20, 60).map { n => (base.toLong until (base + n).toLong).toSet }
    }
    check(Prop.forAll(sets, sets) { (a: Set[Long], b: Set[Long]) =>
      val trueJ = a.intersect(b).size.toDouble / a.union(b).size
      def sig(s: Set[Long]): Array[Long] = {
        val out = Array.fill(128)(Long.MaxValue)
        s.foreach { e =>
          var j = 0
          while (j < 128) {
            val h = HashKernels.mix64(e ^ HashKernels.mix64(42L + j))
            if (h < out(j)) out(j) = h
            j += 1
          }
        }
        out
      }
      val est = sig(a).zip(sig(b)).count { case (x, y) => x == y } / 128.0
      math.abs(est - trueJ) <= 0.25
    }, 30)
  }

  test("Porter2 never crashes and never lengthens beyond input+1") {
    check(Prop.forAll(Gen.alphaLowerStr.suchThat(_.length <= 30)) { (w: String) =>
      val s = Porter2.stem(w)
      s.length <= w.length + 1 && s.nonEmpty == w.nonEmpty
    }, 200)
  }

  test("top-k == sort-take for any score assignment") {
    val rows = Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 100L), Gen.chooseNum(0.0, 10.0)))
    check(Prop.forAll(rows) { (xs: List[(Long, Double)]) =>
      val distinctDocs = xs.zipWithIndex.map { case ((d, s), i) => (0L, i.toLong, s) }
      val df = distinctDocs.toDF("user_id", "doc_id", "score")
      val k = 7
      val got = df.orderBy(col("score").asc, col("doc_id").asc).limit(k)
        .collect().map(r => (r.getDouble(2), r.getLong(1))).toSeq
      val expect = distinctDocs.map(t => (t._3, t._2)).sorted.take(k)
      got == expect
    }, 20)
  }

  test("passthrough-language fields: query analyzer matches index analyzer") {
    // index side: lowercase passthrough for languages without a stemmer
    // (turkish here; german now has a real Snowball stemmer)
    val terms = Seq((0L, "t:running", 1L), (0L, "t:connections", 1L))
      .toDF("user_id", "term", "point_id")
    val universe = Seq((0L, 1L)).toDF("user_id", "point_id")
    val got = FilterCompiler.compile(
      DocFilter.Contains("t", "Running Connections"), terms, universe,
      fieldLang = Map("t" -> "turkish"))
      .select("point_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L)) // would be empty if the query side stemmed
  }

  test("RangeBuckets ids are monotone in Spark sort order for random typed keys") {
    import graft.operators.RangeBuckets
    // random (long, optional unicode string) two-column keys — covers
    // nulls-first placement and UTF-8 string order against arbitrary
    // samples, not just the fixed RangeBucketsSpec cases
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("😀", "�", "😁zz", "ß", "", "Ωmega"))
    val rows = Gen.listOfN(300,
      Gen.zip(Gen.chooseNum(0L, 20L), Gen.option(word)))
    val nb = Gen.oneOf(2, 5, 9)
    check(Prop.forAll(rows, nb) { (rs: List[(Long, Option[String])], nBuckets: Int) =>
      rs.isEmpty || {
        val df = rs.map { case (a, b) => (a, b.orNull) }.toDF("a", "b").repartition(4)
        val bucket = RangeBuckets.bucketCol(df, Seq(col("a"), col("b")), nBuckets,
          samplePerBucket = 30)
        val ids = df.withColumn("__k", bucket)
          .orderBy(col("a").asc_nulls_first, col("b").asc_nulls_first)
          .select("__k").collect().map(_.getInt(0))
        ids.sliding(2).forall { case Array(x, y) => x <= y; case _ => true } &&
          ids.forall(i => i >= 0 && i < nBuckets)
      }
    }, 15)
  }

  test("pack_f32_le/unpack_f32_le are bit-exact inverses incl. NaN payloads, infinities, -0.0, denormals") {
    // the InsertPacked wire (S2) must not canonicalize: a reference
    // client's bytes round-trip through pack -> concat -> unpack -> slice
    // with the exact raw bit pattern per float
    import graft.functions.PackKernels
    val specials = Gen.oneOf(
      java.lang.Float.floatToRawIntBits(Float.NaN),
      0x7fc00001, 0xffc00123, // NaN payload variants, both sign bits
      java.lang.Float.floatToRawIntBits(Float.PositiveInfinity),
      java.lang.Float.floatToRawIntBits(Float.NegativeInfinity),
      java.lang.Float.floatToRawIntBits(-0.0f),
      1, // smallest positive denormal
      0x007fffff) // largest denormal
    val anyBits = Gen.oneOf(specials, Gen.chooseNum(Int.MinValue, Int.MaxValue))
    val vecs = Gen.listOfN(4, Gen.listOfN(6, anyBits))
    check(Prop.forAll(vecs) { (bs: List[List[Int]]) =>
      val floats = bs.map(_.map(java.lang.Float.intBitsToFloat).toArray)
      // kernel level: per-vector round trip preserves raw bits
      val kernelOk = floats.forall { v =>
        PackKernels.unpackF32Le(PackKernels.packF32Le(v))
          .map(java.lang.Float.floatToRawIntBits).toSeq ===
          v.map(java.lang.Float.floatToRawIntBits).toSeq
      }
      // column level (codegen): concatenated request blob decodes to the
      // concatenation of the inputs, bit for bit
      import graft.functions.GraftFunctions.{pack_f32_le, unpack_f32_le}
      val df = floats.map(v => Tuple1(v.toSeq)).toDF("arr")
      val got = df.select(unpack_f32_le(pack_f32_le(col("arr")))).collect()
        .map(_.getSeq[Float](0).map(java.lang.Float.floatToRawIntBits).toSeq).toSeq
      kernelOk && got === floats.map(_.map(java.lang.Float.floatToRawIntBits).toSeq)
    }, 20)
  }

  test("driver-side user bucket == Spark's userBucket == the flushed user_bucket value") {
    import graft.core.{Collection, CollectionConfig}
    val base = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val longIds = Gen.listOfN(40, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val binIds = Gen.listOfN(40,
      Gen.listOfN(16, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    def parity[T](name: String, ids: Gen[List[T]],
        toDf: Seq[T] => org.apache.spark.sql.DataFrame): Unit = {
      val coll = Collection.create(spark, base,
        CollectionConfig(name = name, numFeatures = 2, initialNumCentroids = 2))
      check(Prop.forAll(ids) { (us: List[T]) =>
        us.isEmpty || {
          val viaSpark = toDf(us).select(coll.userBucket(col("user_id")))
            .collect().map(_.getLong(0))
          viaSpark.toSeq == us.map(coll.userBucketOf)
        }
      }, 10)
      // the partition value a flush wrote for each user's rows
      val users = ids.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L)).distinct
      coll.insert(toDf(users).withColumn("doc_id", monotonically_increasing_id())
        .withColumn("vector", array(lit(1.0), lit(2.0))))
      coll.flush()
      val written = coll.segment(coll.toc.segments.head).vectors
        .select("user_id", "user_bucket").distinct().collect()
      assert(written.length === users.size)
      written.foreach { r =>
        assert(r.getInt(1).toLong === coll.userBucketOf(r.get(0)), s"$name user ${r.get(0)}")
      }
    }
    parity[Long]("long_ids", longIds, _.toDF("user_id"))
    parity[Array[Byte]]("binary_ids", binIds, _.toDF("user_id"))
  }
}
