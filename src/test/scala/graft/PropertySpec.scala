package graft

import graft.operators.{ScoredKey, TopKByScore}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Law-level properties that back the distributed-correctness claims:
  * a partial-aggregable Aggregator must give split-invariant results
  * (Spark may partition the input arbitrarily and merge in any shape),
  * and the exact-money scheme must round-trip every 2-decimal value. */
class PropertySpec extends AnyFunSuite {

  private val agg = new TopKByScore(5)

  private def reduceAll(xs: Seq[ScoredKey]): Seq[ScoredKey] =
    xs.foldLeft(agg.zero)(agg.reduce)

  private val keyGen = for {
    score <- Gen.chooseNum(-1e6, 1e6)
    key <- Gen.chooseNum(0L, 1000L)
  } yield ScoredKey(score, key)

  private def check(p: Prop, cases: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, res.status.toString)
  }

  test("TopKByScore is split-invariant: any partitioning + merge equals single-pass") {
    check(Prop.forAll(Gen.listOf(keyGen), Gen.chooseNum(0, 1000)) { (xs, cutSeed) =>
      val whole = reduceAll(xs)
      val cut = if (xs.isEmpty) 0 else cutSeed % (xs.length + 1)
      val (l, r) = xs.splitAt(cut)
      agg.merge(reduceAll(l), reduceAll(r)) == whole
    })
  }

  test("TopKByScore merge is commutative") {
    check(Prop.forAll(Gen.listOf(keyGen), Gen.listOf(keyGen)) { (xs, ys) =>
      val (bx, by) = (reduceAll(xs), reduceAll(ys))
      agg.merge(bx, by) == agg.merge(by, bx)
    })
  }

  test("cents round-trips every 2-decimal money value exactly") {
    check(Prop.forAll(Gen.chooseNum(-10000000L, 10000000L)) { c =>
      val asDouble = c / 100.0              // the parquet-stored 2-decimal value
      math.round(asDouble * 100) == c       // what Num.cents computes per row
    })
  }

  private val bk = new operators.BottomKByHash(5)

  private def bkReduceAll(xs: Seq[operators.HashedRow]): Seq[operators.HashedRow] =
    xs.foldLeft(bk.zero)(bk.reduce)

  private val rowGen = for {
    // full 61-bit hash range: the reason this aggregate exists is that
    // these keys do NOT fit a double's mantissa
    hk <- Gen.chooseNum(0L, (1L << 61) - 1)
    id <- Gen.chooseNum(0L, 1000L)
    payload <- Gen.chooseNum(0L, 100000L)
  } yield operators.HashedRow(hk, id, payload)

  test("BottomKByHash is split-invariant and equals sort-take") {
    check(Prop.forAll(Gen.listOf(rowGen), Gen.chooseNum(0, 1000)) { (xs, cutSeed) =>
      val whole = bkReduceAll(xs)
      val cut = if (xs.isEmpty) 0 else cutSeed % (xs.length + 1)
      val (l, r) = xs.splitAt(cut)
      val merged = bk.merge(bkReduceAll(l), bkReduceAll(r))
      val oracle = xs.sortBy(x => (x.hk, x.id)).take(5)
      merged == whole && whole == oracle
    })
  }

  /** One generated store for the [[sources.RangeManifest]] laws: keys
    * range-clustered into up to `files` files, a probe key set (present
    * and absent keys), and a range [lo, hi] whose bounds are stored keys. */
  private case class Clustered[K](keys: List[K], files: Int, probe: List[K],
      lo: K, hi: K)

  private def clustered[K](key: Gen[K])(implicit ord: Ordering[K]): Gen[Clustered[K]] =
    for {
      keys <- Gen.nonEmptyListOf(key)
      files <- Gen.chooseNum(1, 6)
      present <- Gen.someOf(keys)
      absent <- Gen.listOfN(3, key)
      a <- Gen.oneOf(keys)
      b <- Gen.oneOf(keys)
    } yield Clustered(keys, files, (present ++ absent).toList, ord.min(a, b), ord.max(a, b))

  /** Checks the manifest laws against a brute-force `input_file_name()`
    * scan of the written files:
    *  1. every row's key lies inside its own file's band (in the key's
    *     own type, and in the long key space versioned stores use);
    *  2. pruning for a key set returns every file that holds a probed
    *     key, in each physical form (literal predicate, broadcast join,
    *     in-driver), and the long-space forms agree exactly;
    *  3. on range-clustered files the range prune IS the brute-force
    *     set of files holding a key in [lo, hi]. */
  private def manifestLaws[K](c: Clustered[K], dt: org.apache.spark.sql.types.DataType)(
      implicit ord: Ordering[K]): Boolean = {
    import TestSpark.spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, input_file_name}
    import org.apache.spark.sql.types.{StructField, StructType}
    import scala.jdk.CollectionConverters._
    import sources.{RangeManifest, VersionedStore}
    val dir = java.nio.file.Files.createTempDirectory("range_manifest_law").toString
    try {
      val schema = StructType(Seq(StructField("key", dt, nullable = false)))
      spark.createDataFrame(c.keys.map(k => Row(k)).asJava, schema)
        .repartitionByRange(c.files, col("key"))
        .write.parquet(s"$dir/data")
      RangeManifest.write(spark, s"$dir/data", "key", s"$dir/manifest")
      val m = spark.read.parquet(s"$dir/manifest")
      val band = m.collect().map(r => r.getString(0) -> ((r.getAs[K](1), r.getAs[K](2)))).toMap
      val data = spark.read.parquet(s"$dir/data")
      val rows = data.select(VersionedStore.canonCol(input_file_name()), col("key"),
          VersionedStore.keyLong(data, "key")).collect()
        .map(r => (r.getString(0), r.getAs[K](1), r.getLong(2)))
      def holding(p: K => Boolean): Set[String] =
        rows.collect { case (f, k, _) if p(k) => f }.toSet
      def within[T](x: T, b: (T, T))(implicit o: Ordering[T]) =
        o.lteq(b._1, x) && o.lteq(x, b._2)

      val bands = RangeManifest.collect(spark, VersionedStore.hadoopLs(spark, s"$dir/data").toSeq, "key")
      val longBand = bands.map(b => b.file -> ((b.mn, b.mx))).toMap
      val law1 = rows.forall { case (f, k, kl) =>
        band.get(f).exists(within(k, _)) && longBand.get(f).exists(within(kl, _)) }

      val probe = c.probe.toSet
      val brute = holding(probe)
      val literal = RangeManifest.filesFor(m, c.probe).toSet
      val probeDf = spark.createDataFrame(c.probe.map(k => Row(k)).asJava, schema)
      val probeLongs = probeDf.select(VersionedStore.keyLong(probeDf, "key"))
        .collect().map(_.getLong(0)).toSeq
      val joined = RangeManifest.filesFor(probeDf, "key", bands).toSet
      val law2 = brute.subsetOf(literal) && brute.subsetOf(joined) &&
        joined == RangeManifest.filesFor(bands, probeLongs).toSet

      val law3 = RangeManifest.filesOverlapping(m, c.lo, c.hi).toSet ==
        holding(k => ord.lteq(c.lo, k) && ord.lteq(k, c.hi))
      law1 && law2 && law3
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("RangeManifest laws on long keys: bands hold their rows, no false negatives, exact range prune") {
    check(Prop.forAllNoShrink(clustered(Gen.chooseNum(-1000L, 1000L)))(
      manifestLaws(_, org.apache.spark.sql.types.LongType)), cases = 10)
  }

  test("RangeManifest laws on string keys: bands hold their rows, no false negatives, exact range prune") {
    check(Prop.forAllNoShrink(clustered(Gen.resize(6, Gen.alphaNumStr)))(
      manifestLaws(_, org.apache.spark.sql.types.StringType)), cases = 10)
  }

  test("Morton key preserves box locality: max interleave bounds both coordinates") {
    // every z-value in [z(lo), z(hi)] for an aligned power-of-two box
    // decodes to coordinates inside that box — the row-group pruning
    // argument in miniature (checked on random aligned 16-bit boxes).
    // z() below must BE the production key, so it is first pinned to
    // ZOrderStore.interleave16 over a random sweep — without that
    // anchor this property would certify a test-local copy.
    val boxGen = for {
      bits <- Gen.chooseNum(0, 8)
      ax <- Gen.chooseNum(0, (1 << (16 - bits)) - 1)
      by <- Gen.chooseNum(0, (1 << (16 - bits)) - 1)
    } yield (bits, ax.toLong << bits, by.toLong << bits)
    def z(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    def unz(v: Long): (Long, Long) = (
      (0 until 16).map(i => ((v >> (2 * i)) & 1L) << i).reduce(_ | _),
      (0 until 16).map(i => ((v >> (2 * i + 1)) & 1L) << i).reduce(_ | _))
    locally {
      import TestSpark.spark
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val rnd = new scala.util.Random(5)
      val pairs = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      val prod = pairs.toDF("a", "b")
        .select(graft.sources.ZOrderStore.interleave16(col("a"), col("b")).as("z"))
        .collect().map(_.getLong(0))
      assert(prod.sameElements(pairs.map((z _).tupled)),
        "test-local z() diverges from ZOrderStore.interleave16")
    }
    check(Prop.forAll(boxGen, Gen.chooseNum(0L, Long.MaxValue)) { case ((bits, a0, b0), seed) =>
      val side = 1L << bits
      val (zLo, zHi) = (z(a0, b0), z(a0 + side - 1, b0 + side - 1))
      val v = zLo + (if (zHi == zLo) 0L else math.abs(seed % (zHi - zLo + 1)))
      val (a, b) = unz(v)
      a >= a0 && a < a0 + side && b >= b0 && b < b0 + side
    })
  }

  test("tokenHashes64 mix is injective on the fold domain and keeps bit 63 clear") {
    // The law behind the q43 band-rank claims: the mix
    //   h = a ^ (b << 30) ^ ((a ^ b) << 33)
    // over fold values a, b < P < 2^30 must lose NOTHING (decode
    // recovers (a, b) from h — 60 bits in, 60 bits out) and must never
    // set bit 63 (the DuckDB twin's shift-overflow contract).
    def mix(a: Long, b: Long): Long = a ^ (b << 30) ^ ((a ^ b) << 33)
    def decode(h: Long): (Long, Long) = {
      val a = h & ((1L << 30) - 1)
      var b = (h >> 30) & 7L // bits 30-32 are pure b_0..2
      for (i <- 33 until 60) {
        // h_i = b_(i-30) ^ a_(i-33) ^ b_(i-33), earlier b bits known
        val bit = ((h >> i) & 1L) ^ ((a >> (i - 33)) & 1L) ^ ((b >> (i - 33)) & 1L)
        b |= bit << (i - 30)
      }
      (a, b)
    }
    val foldGen = Gen.chooseNum(0L, functions.TextOps.P - 1)
    check(Prop.forAll(foldGen, foldGen) { (a, b) =>
      val h = mix(a, b)
      (h >>> 63) == 0L && decode(h) == ((a, b))
    })
    // and the test-local mix IS the shipped column expression: compare
    // against TextOps.tokenHashes64 ∘ polyHash on random ASCII tokens
    locally {
      import TestSpark.spark
      import spark.implicits._
      import org.apache.spark.sql.functions.{array, col}
      val rnd = new scala.util.Random(17)
      val toks = Seq.fill(100)(
        (1 to rnd.nextInt(12) + 1).map(_ => (rnd.nextInt(94) + 33).toChar).mkString)
      val got = toks.toDF("w").select(
        functions.TextOps.polyHash(col("w"), 31L).as("a"),
        functions.TextOps.polyHash(col("w"), 37L).as("b"),
        functions.TextOps.tokenHashes64(array(col("w"))).getItem(0).as("h"))
        .collect()
      got.foreach { r =>
        assert(r.getLong(2) == mix(r.getLong(0), r.getLong(1)),
          s"test-local mix diverges from tokenHashes64 for folds " +
            s"(${r.getLong(0)}, ${r.getLong(1)})")
      }
    }
  }
}
