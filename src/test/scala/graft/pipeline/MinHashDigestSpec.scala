package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import TextHash._

/** r19: p03's signature pass became a doc-local codegen projection
  * (MinHashSig + DigestPairs) and the verify-side bigram-string sets
  * became sorted 128-bit digest sets with a primitive merge intersect
  * (DigestIntersectCount). The declared output of p03 (and its
  * dependents p26/p31) is EXACTLY the old string-set formulation's iff
  * the digest is injective on the corpus bigram domain — this suite pins
  * (a) value equality of every replaced piece against its old
  * formulation on the REAL corpora, (b) digest injectivity on every
  * test corpus, and (c) the expressions' edge semantics. */
class MinHashDigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-minhash-digest")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tokDf(dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))

  /** the OLD r18 formulation: explode → groupBy(doc_id) with
    * min(pmod(...)) signatures + collect_set of bigram STRINGS, then
    * band join + array_intersect verify. */
  private def oldPairs(dir: String): DataFrame = {
    val bh = tokDf(dir).select(col("doc_id"), explode(bigrams("ws")).as("b"))
      .withColumn("h", strHash("b"))
    val minCols = (0 until NumHashes).map { k =>
      min(pmod(col("h") * minhashA(k) + minhashB(k), lit(P))).as(s"m$k")
    }
    val sigSet = bh.groupBy("doc_id")
      .agg(minCols.head, (minCols.tail :+ collect_set(col("b")).as("bs")): _*)
    val bandArr = array((0 until NumBands).map { j =>
      lit(j.toLong << 60) + (col(s"m${2 * j}") * lit(1L << 30)) +
        col(s"m${2 * j + 1}")
    }: _*)
    val bands = sigSet.select(col("doc_id"), explode(bandArr).as("bkey"))
    val cand = bands.toDF("d1", "k1")
      .join(bands.toDF("d2", "k2"),
        col("k1") === col("k2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val docSets = sigSet.select(col("doc_id").as("dk"), col("bs"))
    cand.join(docSets.toDF("dx", "bx"), col("d1") === col("dx"))
      .join(docSets.toDF("dy", "by"), col("d2") === col("dy"))
      .withColumn("inter", size(array_intersect(col("bx"), col("by"))).cast(LongType))
      .withColumn("uni", (size(col("bx")) + size(col("by"))).cast(LongType) - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("d1", "d2", "inter", "uni")
  }

  test("doc-local signatures equal the old aggregation on real corpus") {
    val dir = "/root/testdata/sf0.01"
    val bh = tokDf(dir).select(col("doc_id"), explode(bigrams("ws")).as("b"))
      .withColumn("h", strHash("b"))
    val minCols = (0 until NumHashes).map { k =>
      min(pmod(col("h") * minhashA(k) + minhashB(k), lit(P))).as(s"m$k")
    }
    val oldSig = bh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val newSig = tokDf(dir).select(col("doc_id"), bigrams("ws").as("bg"))
      .filter(size(col("bg")) > 0)
      .select(col("doc_id"), minhashSig(col("bg")).as("sig"))
      .select(col("doc_id") +: (0 until NumHashes)
        .map(k => col("sig").getItem(k).as(s"m$k")): _*)
    // same doc set, and every m_k identical
    assert(oldSig.count() === newSig.count())
    val joined = oldSig.toDF(("doc_id" +: (0 until NumHashes).map(k => s"a$k")): _*)
      .join(newSig, "doc_id")
    val mismatches = joined.filter(
      (0 until NumHashes).map(k => not(col(s"a$k") <=> col(s"m$k")))
        .reduce(_ || _)).count()
    assert(mismatches === 0)
  }

  test("per-doc digest-set size equals the distinct bigram count") {
    val dir = "/root/testdata/sf0.01"
    val oldN = tokDf(dir).select(col("doc_id"), explode(bigrams("ws")).as("b"))
      .distinct().groupBy("doc_id").agg(count(lit(1)).as("n_old"))
    val newN = tokDf(dir).select(col("doc_id"), bigrams("ws").as("bg"))
      .filter(size(col("bg")) > 0)
      .select(col("doc_id"), (size(digestPairs(col("bg"))) / 2).as("n_new"))
    val bad = oldN.join(newN, "doc_id")
      .filter(col("n_old") =!= col("n_new")).count()
    assert(bad === 0)
    assert(oldN.count() === newN.count())
  }

  test("digest is injective on every test corpus (exactness witness)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val b = tokDf(dir).select(explode(bigrams("ws")).as("b")).distinct()
      // digestPairs over a 1-element array yields that bigram's (x, y)
      val dg = b.select(digestPairs(array(col("b"))).as("d"))
        .select(col("d").getItem(0).as("x"), col("d").getItem(1).as("y"))
      val r = b.agg(count(lit(1))).head().getLong(0)
      val rd = dg.distinct().count()
      assert(r === rd, s"digest collision on $dir: $r bigrams, $rd digests")
    }
  }

  test("p03 output is identical to the old string-set formulation") {
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val newP = graft.SparkEntry.queries("p03_dedup_minhash_lsh")(spark, dir)
      val oldP = oldPairs(dir).orderBy("d1", "d2")
      assert(newP.exceptAll(oldP).count() === 0, s"new-only rows on $dir")
      assert(oldP.exceptAll(newP).count() === 0, s"old-only rows on $dir")
    }
  }

  test("docs with fewer than 2 tokens are inert in p03 (old behavior dropped them)") {
    // the old explode+groupBy dropped bigram-less docs from sigSet; the
    // doc-local form keeps an inert row (sig all null, bs empty) — the
    // declared output must be identical: the 1-token doc pairs with
    // nothing and the duplicate docs still pair
    val dir = java.nio.file.Files.createTempDirectory("graft-p03-edge").toString
    spark.createDataFrame(Seq(
      (1L, "only"), (2L, "x y z x y z x y"), (3L, "x y z x y z x y")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("p03_dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((2L, 3L, 3L, 3L)))
  }

  test("a hot LSH band's self-join: AQE splits the skewed partition on both sides") {
    // p03's candidate self-join at its at-scale form: a shuffle join
    // (broadcast off, no local SMJ->SHJ rewrite) where a boilerplate
    // cluster shares one band key. The skew thresholds are scaled down
    // to test bytes (defaults 256 MB / factor 5). Its own session: none
    // of these confs reach the other tests.
    val s = spark.newSession()
    Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "0",
      "spark.sql.join.preferSortMergeJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      .foreach { case (k, v) => s.conf.set(k, v) }
    // (doc_id, bkey) plus an incompressible ~128-byte payload standing in
    // for the digest sets (skew statistics are compressed bytes): 5000
    // docs spread over 100k band keys, and 2000 docs sharing band -1
    def payload = concat((0 until 4).map(i => md5((col("id") + i).cast("string"))): _*)
    val uniform = s.range(0, 5000).select(col("id").as("doc_id"),
      pmod(xxhash64(col("id")), lit(100000L)).as("bkey"), payload.as("bs"))
    val hot = s.range(5000, 7000)
      .select(col("id").as("doc_id"), lit(-1L).as("bkey"), payload.as("bs"))
    val bands = uniform.union(hot)
    val cand = bands.toDF("d1", "k1", "bs1")
      .join(bands.toDF("d2", "k2", "bs2"),
        col("k1") === col("k2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"), (length(col("bs1")) + length(col("bs2"))).as("w"))
    // run cand's own QueryExecution so the final adaptive plan is the one
    // that ran
    val qe = cand.queryExecution
    assert(qe.toRdd.count() >= 2000L * 1999 / 2)
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    val joins = helper.collect(qe.executedPlan) { case j: SortMergeJoinExec => j }
    assert(joins.size === 1 && joins.head.isSkewJoin, s"no skew join in:\n${qe.executedPlan}")
    val skewedReads = helper.collect(joins.head) {
      case r: AQEShuffleReadExec if r.hasSkewedPartition => r
    }
    assert(skewedReads.size === 2, s"expected both sides split:\n${qe.executedPlan}")
  }

  test("minhashSigOf edge semantics match the old aggregation's") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: Any*) = new GenericArrayData(xs.map {
      case null => null
      case s: String => UTF8String.fromString(s)
    }.toArray[Any])
    // no non-null bigram -> every min is null (min over empty group)
    val allNull = TextHash.minhashSigOf(arr(null, null))
    assert((0 until NumHashes).forall(allNull.isNullAt))
    // single bigram -> min is exactly (a_k*h + b_k) % P
    val one = TextHash.minhashSigOf(arr("x~y"))
    val h = TextHash.polyHash(UTF8String.fromString("x~y"), 24)
    (0 until NumHashes).foreach { k =>
      assert(one.getLong(k) === (h * minhashA(k) + minhashB(k)) % P)
    }
    // nulls among bigrams are skipped, duplicates don't change the min
    val mixed = TextHash.minhashSigOf(arr("x~y", null, "x~y"))
    (0 until NumHashes).foreach(k => assert(mixed.getLong(k) === one.getLong(k)))
  }

  test("digestPairsOf is sorted, distinct, null-skipping; merge counts") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: String*) = new GenericArrayData(
      (xs.map(s => if (s == null) null else UTF8String.fromString(s)))
        .toArray[Any])
    val a = TextHash.digestPairsOf(arr("b~c", "a~b", "b~c", null, "c~d"))
    assert(a.numElements() === 6) // 3 distinct bigrams -> 3 (x,y) pairs
    // sorted lexicographically by (x, y)
    val pairs = (0 until 3).map(i => (a.getLong(2 * i), a.getLong(2 * i + 1)))
    assert(pairs === pairs.sorted)
    // empty input -> empty set
    assert(TextHash.digestPairsOf(arr()).numElements() === 0)
    // merge-intersect: self = full, disjoint = 0, partial overlap exact
    val b = TextHash.digestPairsOf(arr("a~b", "z~w"))
    assert(TextHash.digestIntersectCountOf(a, a) === 3)
    assert(TextHash.digestIntersectCountOf(a, b) === 1) // shares a~b
    assert(TextHash.digestIntersectCountOf(
      TextHash.digestPairsOf(arr("q~r")), b) === 0)
    assert(TextHash.digestIntersectCountOf(arr(), a) === 0)
  }
}
