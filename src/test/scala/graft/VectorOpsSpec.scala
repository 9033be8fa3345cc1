package graft

import org.apache.spark.sql.functions._
import graft.ops.{Knn, VectorOps}

/** Vector-op edge semantics (SURVEY §2.3) + properties (SURVEY §5.3). */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("V1: zero-vector guard — zero vector passes through unchanged") {
    val df = Seq(Tuple1(Array(0.0f, 0.0f))).toDF("v")
    val got = df.select(VectorOps.l2Normalize(col("v"))).first().getSeq[Double](0)
    assert(got == Seq(0.0, 0.0))
  }

  test("V1: normalized vector has unit norm; idempotent") {
    val df = Seq(Tuple1(Array(3.0f, 4.0f))).toDF("v")
    val once = df.select(VectorOps.l2Normalize(col("v")).as("n"))
    val norm = once.select(VectorOps.l2Norm(col("n"))).first().getDouble(0)
    assert(math.abs(norm - 1.0) < 1e-12)
    val twice = once.select(VectorOps.l2Normalize(col("n"))).first().getSeq[Double](0)
    val expect = Seq(0.6, 0.8)
    assert(twice.zip(expect).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("V3: dot and cosine") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(VectorOps.dot(col("a"), col("b"))).first().getDouble(0) == 11.0)
    val cos = df.select(VectorOps.cosine(col("a"), col("b"))).first().getDouble(0)
    assert(math.abs(cos - 11.0 / (math.sqrt(5) * 5)) < 1e-12)
  }

  test("V3: cosine with a zero vector is 0.0, not NaN") {
    val df = Seq((Array(0.0f, 0.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(VectorOps.cosine(col("a"), col("b"))).first().getDouble(0) == 0.0)
  }

  test("V5/V6: kNN join returns min(k,|points|) rows per query, ties by id") {
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("qid", "qv")
    // two points tied at score 1.0 → rank order must follow point id
    val points = Seq((10L, Array(2.0f, 0.0f)), (11L, Array(3.0f, 0.0f)), (12L, Array(0.0f, 1.0f)))
      .toDF("pid", "pv")
    val got = Knn.knnJoin(queries, points, "qid", "qv", "pid", "pv", 5)
      .select("rank", "pid").collect().map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(got.toSeq == Seq((1, 10L), (2, 11L), (3, 12L)))

    // adversarial inputs against the rank-window reference, whole result
    // bit-exact: cosine ties (10/18 parallel), a NaN vector, null
    // vectors, ±0.0 zero vectors, null ids (one tied with 19), a
    // duplicate id with different vectors (17) and with identical rows
    // (18), a zero, a NaN and a null query vector and a null query id
    val nv = null.asInstanceOf[Array[Float]]
    val advPoints = Seq[(java.lang.Long, Array[Float], String)](
      (10L, Array(2.0f, 0.0f), "a"), (11L, Array(3.0f, 0.0f), "b"),
      (12L, Array(0.0f, 1.0f), "c"), (13L, Array(Float.NaN, 1.0f), "nan"),
      (14L, nv, "nullvec"), (null, Array(1.0f, 1.0f), "nullid"),
      (15L, Array(-0.0f, -0.0f), "negzero"), (16L, Array(0.0f, 0.0f), "zero"),
      (17L, Array(1.0f, -1.0f), "d1"), (17L, Array(-1.0f, 1.5f), "d2"),
      (18L, Array(2.0f, 0.0f), "dup"), (18L, Array(2.0f, 0.0f), "dup"),
      (19L, Array(1.0f, 1.0f), "e"), (20L, nv, "nullvec2"))
      .toDF("pid", "pv", "tag")
    val advQueries = Seq[(java.lang.Long, Array[Float])](
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 0.0f)),
      (4L, nv), (5L, Array(-1.0f, 0.5f)), (6L, Array(Float.NaN, 0.0f)),
      (null, Array(1.0f, 1.0f))).toDF("qid", "qv")
    for (metric <- Seq("cosine", "dot"); k <- Seq(1, 2, 3, 5, 20);
         (pts, label) <- Seq(advPoints -> "points", advPoints.filter(lit(false)) -> "no points"))
      KnnReference.assertSameResult(
        Knn.knnJoin(advQueries, pts, "qid", "qv", "pid", "pv", k, metric),
        KnnReference.knnJoin(advQueries, pts, "qid", "qv", "pid", "pv", k, metric),
        s"$metric k=$k $label")
  }

  test("top-k subset property: topK(k) is a prefix of topK(k+1)") {
    val emb = ops.Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding")).first().getSeq[Float](0)
    val qLit = typedLit(q)
    def ids(k: Int) = Knn.topK(emb, "embedding", "vec_id", qLit, k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids(6).take(4) == ids(4).take(4))
  }

  test("signProject: matches naive recompute, deterministic, dims validated") {
    import graft.functions.CmsHash
    val vecs = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f, 3.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(-1.5f, 2.5f, -0.25f, 4.0f)))
    val df = vecs.toDF("vec_id", "v")
    val got = df.select(col("vec_id"), VectorOps.signProject(col("v"), 4, 2).as("y"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val scale = 1.0 / math.sqrt(2.0)
    def naive(v: Array[Float]): Seq[Double] =
      (0 until 2).map { k =>
        var acc = 0.0
        for (i <- 0 until 4)
          acc += v(i).toDouble * (if (CmsHash.h32(s"$k|$i") % 2 == 0) scale else -scale)
        acc
      }
    for ((id, v) <- vecs) assert(got(id) == naive(v), s"vec $id diverged from naive projection")
    assert(got(2L) == Seq(0.0, 0.0), "zero vector projects to zero")
    // same input row -> identical projection regardless of partitioning
    val again = df.repartition(3)
      .select(col("vec_id"), VectorOps.signProject(col("v"), 4, 2).as("y"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(again == got)
    intercept[IllegalArgumentException] { VectorOps.signProject(col("v"), 4, 5) }
    intercept[IllegalArgumentException] { VectorOps.signProject(col("v"), 0, 0) }
  }

  test("signProject dim edges: outDim = 1, non-divisor, and inDim-sized all hold") {
    // outDim does not need to divide inDim — the projection matrix is a
    // pure (k, i) hash function; pin that at the awkward shapes
    val df = Seq(
      (1L, Array.tabulate(7)(i => (i - 3).toFloat * 1.5f)),
      (2L, Array.fill(7)(0.0f))).toDF("vec_id", "v")
    for (outDim <- Seq(1, 3, 7)) {
      val rows = df
        .select(col("vec_id"), VectorOps.signProject(col("v"), 7, outDim).as("y"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(rows(1L).size == outDim, s"outDim=$outDim: wrong output dim")
      assert(rows(2L) == Seq.fill(outDim)(0.0), s"outDim=$outDim: zero in, zero out")
      // exact sign linearity: each coordinate is the same sequential sum
      // with every term negated, so the equality is bit-exact, not approx
      val neg = df
        .select(col("vec_id"),
          VectorOps.signProject(transform(col("v"), x => -x), 7, outDim).as("y"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(neg(1L) == rows(1L).map(-_), s"outDim=$outDim: sign linearity broken")
    }
  }

  test("quantizeInt8 contract: codes bounded, amax coordinate saturates, roundtrip error <= scale/2") {
    val vecs = Seq(
      (1L, Array(0.3f, -1.7f, 0.05f, 0.9f)),
      (2L, Array(-2.5f, 2.5f, 0.0f, 1.25f)), // |min| == max: both saturate
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
    val rows = vecs.toDF("vec_id", "v")
      .select(col("vec_id"),
        VectorOps.quantizeInt8(col("v")).as("codes"),
        VectorOps.quantScale(col("v")).as("scale"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2))).toList
    val byId = rows.map(t => t._1 -> ((t._2, t._3))).toMap
    for ((id, v) <- vecs; ((codes, scale), _) <- Seq((byId(id), ()))) {
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id: code out of int8 range")
      assert(codes.size == v.length)
      // dequantized value lands within half a quantization step of the input
      codes.zip(v).foreach { case (c, x) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-9,
          s"vec $id: roundtrip error exceeds scale/2")
      }
    }
    assert(byId(1L)._1.map(math.abs).max == 127, "largest-|x| coordinate must map to ±127")
    assert(byId(2L)._1.count(c => math.abs(c) == 127) == 2, "tied ±amax coords both saturate")
    assert(byId(3L)._1.forall(_ == 0) && byId(3L)._2 == 1.0,
      "zero vector: zero codes, guard scale 1.0")
  }

  test("quantize after signProject: composition stays within contract at a non-divisor outDim") {
    val df = Seq((1L, Array.tabulate(7)(i => math.pow(-1, i).toFloat * (i + 0.25f))))
      .toDF("vec_id", "v")
    val r = df.select(
        VectorOps.quantizeInt8(VectorOps.signProject(col("v"), 7, 3)).as("codes"))
      .first().getSeq[Int](0)
    assert(r.size == 3 && r.map(math.abs).max == 127,
      s"composed project->quantize must emit outDim codes with a saturated amax, got $r")
  }

  test("embedTextDistributed matches per-row embedText") {
    val df = Seq((1L, "a b c a"), (2L, "x y")).toDF("id", "text")
    val perRow = df.select(col("id"), VectorOps.embedText(col("text"), 8).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val dist = VectorOps.embedTextDistributed(df, Seq("id"), "text", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(perRow.keySet == dist.keySet)
    for (k <- perRow.keySet)
      assert(perRow(k).zip(dist(k)).forall { case (a, b) => math.abs(a - b) < 1e-12 }, s"id $k")
  }

  test("dimDrift: shifted dimension flagged, identical dimension at zero, PSI nonnegative") {
    // 4 A-vectors and 4 B-vectors: dim 1 shifted by +10 in B, dim 2
    // identical across slices (same multiset => same buckets => psi 0)
    val rows = Seq(
      (0L, Array(0.1f, 5.0f)), (2L, Array(0.2f, 6.0f)),
      (4L, Array(0.3f, 7.0f)), (6L, Array(0.4f, 8.0f)),
      (1L, Array(10.1f, 5.0f)), (3L, Array(10.2f, 6.0f)),
      (5L, Array(10.3f, 7.0f)), (7L, Array(10.4f, 8.0f))).toDF("vec_id", "embedding")
    val got = VectorOps.dimDrift(rows, "embedding", isB = col("vec_id") % 2 === 1, bins = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L)._1 == 4L && got(1L)._2 == 4L)
    assert(got(1L)._3 > 1.0, s"a full +10 shift must read as severe drift: ${got(1L)}")
    assert(got(2L)._3 == 0.0, s"identical per-slice distributions must read 0: ${got(2L)}")
    assert(got.values.forall(_._3 >= 0.0), "PSI terms are pointwise nonnegative")
    // harness control: even/odd halves of the same corpus are
    // same-distribution — every dimension must sit in the stable band
    val ctrl = VectorOps.dimDrift(ops.Tables.embeddings(spark, sf0001), "embedding",
        isB = col("vec_id") % 2 === 1, bins = 10)
      .agg(max(col("psi"))).first().getDouble(0)
    assert(ctrl < 0.25, s"same-distribution control shows drift: max psi $ctrl")
  }

  test("meanPool matches the declarative posexplode+avg form") {
    val emb = ops.Tables.embeddings(spark, sf0001)
      .withColumn("g", floor(col("vec_id") / 8).cast("long"))
    val pooled = VectorOps.meanPool(emb, Seq("g"), "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val naive = emb
      .select(col("g"), posexplode(VectorOps.toDoubleArray(col("embedding")))
        .as(Seq("j", "x")))
      .groupBy("g", "j").agg(avg(col("x")).as("m"))
      .groupBy("g").agg(array_sort(collect_list(struct(col("j"), col("m")))).as("jm"))
      .select(col("g"), transform(col("jm"), e => e.getField("m")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(pooled.keySet == naive.keySet)
    for (g <- pooled.keySet) {
      assert(pooled(g).size == naive(g).size, s"group $g width")
      assert(pooled(g).zip(naive(g)).forall { case (a, b) => math.abs(a - b) < 1e-9 },
        s"group $g values diverge")
    }
  }

  test("meanPool is invariant to input partitioning (mod rounding)") {
    val emb = ops.Tables.embeddings(spark, sf0001)
      .withColumn("g", floor(col("vec_id") / 8).cast("long"))
    def pooled(df: org.apache.spark.sql.DataFrame) =
      VectorOps.meanPool(df, Seq("g"), "embedding")
        .select(col("g"), transform(col("mean_vec"), x => round(x, 6)).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(pooled(emb) == pooled(emb.repartition(13)))
  }

  test("meanPool: null vectors skipped; all-null group yields null; width mix fails") {
    val df = Seq(
      (1L, Array(1.0f, 3.0f)), (1L, null.asInstanceOf[Array[Float]]),
      (1L, Array(3.0f, 5.0f)), (2L, null.asInstanceOf[Array[Float]])).toDF("g", "v")
    val got = VectorOps.meanPool(df, Seq("g"), "v")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq) == Some(Seq(2.0, 4.0)),
      s"null rows must not dilute the mean: ${got(1L)}")
    assert(got(2L).isEmpty, "all-null group must be null, not zero-vector")
    val mixed = Seq((1L, Array(1.0f)), (1L, Array(1.0f, 2.0f))).toDF("g", "v")
    val e = intercept[org.apache.spark.SparkException] {
      VectorOps.meanPool(mixed, Seq("g"), "v").collect()
    }
    assert(e.getMessage.contains("width mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("width mismatch")))
  }
}
