package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Tables

/** Dev tool: inflate a harness scale-factor directory N× for the scale
  * smoke — `ScaleGen <srcSfDir> <dstDir> [copies=10]`.
  *
  * Every inflated table is produced by ONE narrow, shuffle-free plan:
  * scan → posexplode a `copies`-element replica array → per-replica
  * column rewrite → write. No driver-side loop, no union of N scans —
  * the same generator shape works at any multiplier on a cluster.
  *
  * Replicas are RE-KEYED (id + k·stride, stride = max(id)+1 of the
  * source so key spaces never collide) and PERTURBED so the inflated
  * corpus stresses operators the way bigger REAL data would, instead of
  * the degenerate way verbatim copies would:
  *  - `documents.text`: per-replica character rotation over 10 letters
  *    (translate), so replica texts are neither exact nor near
  *    duplicates of each other — otherwise every doc gains 9 clones and
  *    all pairwise dedup work grows ~copies² by construction, which
  *    would make every dedup query look super-linear when the ENGINE
  *    is linear. Within a replica the rotation is a bijection on
  *    characters, so the source's own near-dup structure (shingle
  *    overlaps, cluster sizes) is preserved exactly, just `copies`
  *    times over.
  *  - `embeddings.embedding`: per-replica deterministic per-dimension
  *    scaling (±3%), preserving the distribution's shape while
  *    breaking exact-duplicate vectors. Query vectors stay replica-0
  *    only (`vec_id < 10` filters select original ids), so ANN queries
  *    search a `copies`× corpus with the same query set — the serving
  *    scale-up shape.
  *  - `events`: event and user ids re-keyed (timestamps kept), so
  *    sessionization sees `copies`× users at the same per-user volume.
  *  - `lineitem`/`orders`/`customer`: order and customer keys re-keyed
  *    in lockstep so join alignment is preserved.
  *  - dimension-sized tables (`part supplier nation region`) copied
  *    verbatim: real 100 TB growth is fact-side; dimensions stay
  *    broadcast-small.
  */
object ScaleGen {

  /** Per-replica bijective character mapping over a 20-letter alphabet.
    *
    * History: v1 composed two 10-letter rotations — 100 distinct
    * bijections, k = 0 the identity. That cap bit twice: (a) a single
    * rotation's period-10 bug planted verbatim clone triples at
    * copies=30 (244 → 171,816 MinHash candidate pairs — the "copies²
    * by construction" failure mode this generator exists to avoid);
    * (b) at the 1000× decade, STACKING a second 100-replica pass over a
    * 100× directory re-composed first-pass mappings, so some
    * cross-decade replica pairs came out near-verbatim and the r17
    * `data/scale1000` could never serve pairwise-dedup smokes
    * (SCALING.md records the caveat).
    *
    * v2 (round 18): replica k gets a seeded Fisher–Yates PERMUTATION of
    * the alphabet (splitmix64 stream per replica; k = 0 stays the
    * identity), constructed greedily with two STRUCTURAL assertions
    * instead of a periodicity argument:
    *   - pairwise distinct (no exact clone groups), and
    *   - every pair of mappings agrees on ≤ [[MaxAgree]] of the 20
    *     positions (two near-identical bijections would differ only at
    *     occurrences of the few disagreeing letters — near-dup texts by
    *     construction; random permutation pairs agree on ~1 position,
    *     so the greedy retry loop virtually never re-seeds).
    * Within a replica any bijection preserves equality and shingle
    * structure exactly, so the source's own dup/near-dup geometry is
    * replicated `copies` times, never mixed across replicas. The cap is
    * now [[MaxCopies]] = 1000, enforced by construction-time checks
    * rather than an alphabet-period proof.
    */
  private val RotAlphabet = "aeioubcdfghjklmnpqrs"
  private val MaxCopies = 1000
  private val MaxAgree = 8
  // splitmix seed stream stride between replicas: replica k's attempt a
  // seeds at k·SeedStride + a, so cross-replica seed disjointness holds
  // ONLY while every attempt count stays < SeedStride — permOf/mappings
  // require() it. Prime, and > MaxCopies' worst observed retry depth by
  // orders of magnitude (random 20-perm pairs agree on ~1 position).
  private val SeedStride = 1009L

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic Fisher–Yates over the alphabet for (replica, attempt). */
  private def permOf(k: Int, attempt: Int): String = {
    require(attempt >= 0 && attempt < SeedStride,
      s"permOf: attempt ($attempt) must stay < SeedStride ($SeedStride) — " +
        "replica k+1's attempt 0 seeds at (k+1)·SeedStride, so a deeper retry " +
        "would alias another replica's seed stream and could emit its mapping")
    val a = RotAlphabet.toCharArray
    var s = k.toLong * SeedStride + attempt.toLong
    var i = a.length - 1
    while (i > 0) {
      s = splitmix64(s)
      val j = (((s % (i + 1)) + (i + 1)) % (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    new String(a)
  }

  private def agree(x: String, y: String): Int =
    x.indices.count(i => x(i) == y(i))

  /** Per-replica SIGNED PERMUTATION of embedding dimensions — the
    * v2 text discipline applied to vectors (round 19). History: the
    * r17/r18 embeddings transform was the per-dim affine ±3% alone,
    * which is exact-clone-free but NOT near-clone-free in the metric
    * that matters: scaling each coordinate by 1±3% leaves a replica
    * pair of the same source vector at cosine ≈ 0.9998, so every
    * source vector's replicas form a near-dup CLIQUE and any
    * embedding-pair operator (semantic dedup) pays ~copies² pairs by
    * construction — the exact failure mode the text permutations
    * exist to avoid. A signed permutation is ORTHOGONAL: within a
    * replica every dot product, norm, and neighbor structure is
    * preserved exactly (the bijection argument, verbatim), while a
    * replica pair of one source vector relates by the random isometry
    * P_i^T·P_j — cross-replica cosines fall to the background
    * distribution (E ≈ 0, sd ≈ 1/√dim) instead of ≈ 1.
    *
    * Element k of the result is replica k's mapping as parallel
    * arrays: `perm(i)` = the 0-based SOURCE dimension written to
    * output dim i, `sign(i)` ∈ {−1, +1}. Replica 0 is the identity
    * (the source corpus, untouched). Structural assertions mirror
    * [[mappings]]: pairwise, two replicas may agree (same source dim
    * AND same sign at an output position) on at most dim/4 positions
    * (random pairs agree on ~0.5) — two near-identical isometries
    * would leave the relating transform near-identity and the replica
    * pair near-parallel. Seeded from the SAME splitmix stream
    * discipline (stride [[SeedStride]] per replica, attempt offset,
    * retry cap < stride).
    */
  private[graft] def signedPerms(copies: Int, dim: Int): Array[(Array[Int], Array[Float])] = {
    require(copies >= 1 && copies <= MaxCopies,
      s"copies ($copies) must be in [1, $MaxCopies]")
    require(dim >= 8, s"dim ($dim) must be >= 8 — fewer dims cannot keep " +
      s"${MaxCopies} signed permutations pairwise non-near-identical")
    val maxAgree = math.max(2, dim / 4)
    def permOfK(k: Int, attempt: Int): (Array[Int], Array[Float]) = {
      require(attempt >= 0 && attempt < SeedStride,
        s"signedPerms: attempt ($attempt) must stay < SeedStride ($SeedStride)")
      val p = Array.tabulate(dim)(identity)
      val sg = new Array[Float](dim)
      // offset the stream from the TEXT mappings' (k·stride + attempt)
      // seeds so the two generators never consume the same stream
      var s = (k.toLong + MaxCopies.toLong) * SeedStride + attempt.toLong
      var i = dim - 1
      while (i > 0) {
        s = splitmix64(s)
        val j = (((s % (i + 1)) + (i + 1)) % (i + 1)).toInt
        val t = p(i); p(i) = p(j); p(j) = t
        i -= 1
      }
      var d = 0
      while (d < dim) {
        s = splitmix64(s)
        sg(d) = if ((s & 1L) == 0L) 1.0f else -1.0f
        d += 1
      }
      (p, sg)
    }
    def agreeSp(a: (Array[Int], Array[Float]), b: (Array[Int], Array[Float])): Int =
      (0 until dim).count(i => a._1(i) == b._1(i) && a._2(i) == b._2(i))
    val out = new Array[(Array[Int], Array[Float])](copies)
    out(0) = (Array.tabulate(dim)(identity), Array.fill(dim)(1.0f))
    var k = 1
    while (k < copies) {
      var attempt = 0
      var cand = permOfK(k, attempt)
      while (out.iterator.take(k).exists(p => agreeSp(p, cand) > maxAgree)) {
        attempt += 1
        require(attempt < SeedStride,
          s"signedPerms: could not place replica $k after $attempt re-seeds")
        cand = permOfK(k, attempt)
      }
      out(k) = cand
      k += 1
    }
    out
  }

  /** The replica → target-alphabet table: index k is replica k's image
    * of [[RotAlphabet]]. Greedy construction; each mapping is re-seeded
    * until it is distinct from and ≥ (20 − [[MaxAgree]])-different to
    * every earlier one, so the invariants hold for ANY copies ≤
    * [[MaxCopies]] — checked here, not argued.
    */
  private[graft] def mappings(copies: Int): Array[String] = {
    require(copies >= 1 && copies <= MaxCopies,
      s"copies ($copies) must be in [1, $MaxCopies]")
    val out = new Array[String](copies)
    out(0) = RotAlphabet // replica 0 IS the source corpus
    var k = 1
    while (k < copies) {
      var attempt = 0
      var cand = permOf(k, attempt)
      while (out.iterator.take(k).exists(p => agree(p, cand) > MaxAgree)) {
        attempt += 1
        // the retry cap MUST stay < SeedStride (permOf re-asserts): at
        // attempt = SeedStride the seed stream aliases replica k+1's
        require(attempt < SeedStride,
          s"mappings: could not place replica $k after $attempt re-seeds")
        cand = permOf(k, attempt)
      }
      out(k) = cand
      k += 1
    }
    out
  }

  private def withReplica(df: DataFrame, copies: Int): DataFrame =
    df.withColumn("__k", explode(lit((0 until copies).toArray)))

  /** id + k·stride over a replica-exploded frame. */
  private def rekey(c: String, stride: Long): Column =
    col(c) + col("__k") * stride

  private[graft] def strideOf(df: DataFrame, c: String): Long = {
    // clear failure modes for the CLI entry point: an empty source table
    // yields max=null (would NPE), and a non-integral key column would
    // throw an opaque ClassCastException from getLong
    val row = df.agg(max(col(c))).head()
    require(!row.isNullAt(0), s"strideOf: source table has no rows (max($c) is null)")
    row.get(0) match {
      case n: java.lang.Number => n.longValue() + 1L
      case other => throw new IllegalArgumentException(
        s"strideOf: key column '$c' must be integral, got ${other.getClass.getSimpleName}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleGen <srcSfDir> <dstDir> [copies=10] [table ...]")
    val spark = GraftSession(GraftSession.defaultCpus, Some(args(0)))
    inflate(spark, args(0), args(1),
      if (args.length > 2) args(2).toInt else 10,
      if (args.length > 3) args.drop(3).toSet else AllTables)
    spark.stop()
  }

  private val AllTables: Set[String] = Set(
    "documents", "embeddings", "events", "lineitem", "orders", "customer",
    "part", "supplier", "nation", "region")

  /** The whole generator as a library call (spec-testable). `tables`
    * restricts which tables are inflated — a decade smoke of the
    * serving family only needs documents+embeddings, not a 10×
    * lineitem rewrite.
    */
  def inflate(spark: SparkSession, src: String, dst: String, copies: Int,
      tables: Set[String] = AllTables): Unit = {
    val unknown = tables -- AllTables
    require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(", ")}")
    require(copies >= 1 && copies <= MaxCopies,
      s"copies ($copies) must be in [1, $MaxCopies] — the per-replica text " +
        "bijections are constructed with pairwise-distinctness checked up to " +
        s"$MaxCopies; beyond that extend mappings() first (the copies² failure mode)")

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name done")
    }

    // documents: re-key + per-replica bijective character rotation.
    // The rotation alone leaves a clone hole: a doc whose text contains
    // NONE of the 20 rotated letters (digits-only, non-Latin script) is
    // byte-identical across replicas. A replica-distinct trailing marker
    // token closes it structurally — within a replica every doc carries
    // the SAME marker, so intra-replica near-dup structure is unchanged
    // (one extra shared token), while cross-replica texts can never be
    // verbatim equal.
    if (tables("documents")) {
      val docs = Tables.documents(spark, src)
      val stride = strideOf(docs, "doc_id")
      // Per-replica alphabet images ride a broadcast-joined `copies`-row
      // table, and `translate` takes the image as a COLUMN (StringTranslate
      // rebuilds its dict only when the argument changes) — a 1000-branch
      // CASE would blow the codegen/constant-pool limits the old ≤100-way
      // foldLeft form stayed under.
      import spark.implicits._
      val maps = mappings(copies).zipWithIndex
        .map { case (m, k) => (k, m) }.toSeq.toDF("__k", "__to")
      write(
        withReplica(docs, copies)
          .join(broadcast(maps), "__k")
          .withColumn("doc_id", rekey("doc_id", stride))
          .withColumn("text",
            when(col("__k") === 0, col("text"))
              .otherwise(concat(
                expr(s"translate(text, '$RotAlphabet', __to)"),
                lit(" zrep"), col("__k").cast("string"))))
          .drop("__k", "__to"),
        "documents")
    }

    // embeddings: re-key + per-replica affine perturbation composed
    // with a per-replica SIGNED PERMUTATION of dimensions (v2, r19 —
    // see signedPerms: the affine form alone left replica pairs at
    // cosine ≈ 0.9998, near-dup cliques by construction)
    if (tables("embeddings")) {
      val emb = Tables.embeddings(spark, src)
      val stride = strideOf(emb, "vec_id")
      // the corpus is fixed-dim by construction; read it once so the
      // permutation table matches the data (a head() driver action,
      // the strideOf precedent)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      import spark.implicits._
      val perms = signedPerms(copies, dim).zipWithIndex
        .map { case ((p, sg), k) => (k, p, sg) }.toSeq
        .toDF("__k", "__perm", "__sgn")
      write(
        withReplica(emb, copies)
          .join(broadcast(perms), "__k")
          .withColumn("embedding",
            when(col("__k") === 0, col("embedding")).otherwise {
              // output dim i reads SOURCE dim p = __perm[i], affine-
              // perturbed and sign-flipped:
              //   out[i] = sgn[i] · (x[p]·(1 + s·0.006%) + s·1e-6),
              //   s = (7k + p) mod 1009 − 504
              // (±3% multiplicative; prime modulus > MaxCopies so no two
              // replicas ≤ 1000 share a pattern). The additive term
              // closes the zero hole: a purely multiplicative+orthogonal
              // transform maps all-zero embeddings — the
              // collapsed-encoder case the ANN hot-bucket guards
              // contemplate — to themselves verbatim across replicas.
              // s is derived from the SOURCE dim p (available inside the
              // lambda) so the whole transform is one zip_with over the
              // (perm, sign) arrays indexing `embedding` directly — no
              // shared subtree for the HOF to re-evaluate per element
              // (the bqRerank lesson).
              zip_with(col("__perm"), col("__sgn"), (p, sg) => {
                val s = ((col("__k") * 7 + p) % 1009 - 504).cast("float")
                sg * (element_at(col("embedding"), p + 1) *
                  (lit(1.0f) + s * lit(0.00006f)) + s * lit(1.0e-6f))
              })
            })
          .withColumn("vec_id", rekey("vec_id", stride))
          .drop("__k", "__perm", "__sgn"),
        "embeddings")
    }

    // events: copies× users at the same per-user event volume
    if (tables("events")) {
      val ev = Tables.events(spark, src)
      val evStride = strideOf(ev, "event_id")
      val userStride = strideOf(ev, "user_id")
      write(
        withReplica(ev, copies)
          .withColumn("event_id", rekey("event_id", evStride))
          .withColumn("user_id", rekey("user_id", userStride))
          .drop("__k"),
        "events")
    }

    // fact tables: order/customer keys re-keyed in lockstep
    if (tables("lineitem") || tables("orders") || tables("customer")) {
      val li = Tables.lineitem(spark, src)
      val ord = Tables.orders(spark, src)
      val cust = Tables.customer(spark, src)
      val okStride = strideOf(ord, "o_orderkey")
      val ckStride = strideOf(cust, "c_custkey")
      if (tables("lineitem")) write(
        withReplica(li, copies)
          .withColumn("l_orderkey", rekey("l_orderkey", okStride))
          .drop("__k"),
        "lineitem")
      if (tables("orders")) write(
        withReplica(ord, copies)
          .withColumn("o_orderkey", rekey("o_orderkey", okStride))
          .withColumn("o_custkey", rekey("o_custkey", ckStride))
          .drop("__k"),
        "orders")
      if (tables("customer")) write(
        withReplica(cust, copies)
          .withColumn("c_custkey", rekey("c_custkey", ckStride))
          .drop("__k"),
        "customer")
    }

    // dimensions stay broadcast-small: verbatim copy
    Seq("part", "supplier", "nation", "region").filter(tables).foreach { t =>
      write(Tables.table(spark, src, t), t)
    }
  }
}
