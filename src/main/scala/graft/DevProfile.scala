package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.ops._

/** Dev tool: stage-by-stage timing of one pipeline, picked by name —
  * `DevProfile <stage> [sfDir]` where stage is one of
  * `flagship | lsh | sessionize | cluster | interference`.
  * (Formerly six near-identical one-off mains.)
  */
object DevProfile {

  private val stages = Map[String, (SparkSession, String) => Unit](
    "flagship" -> profileFlagship,
    "lsh" -> profileLsh,
    "sessionize" -> profileSessionize,
    "cluster" -> profileCluster,
    "interference" -> profileInterference,
    "mmneardup" -> profileMmNearDup,
    "semdedup" -> profileSemDedup,
    "e2e" -> profileE2e,
    "e2estaged" -> profileE2eStaged)

  def main(args: Array[String]): Unit = {
    val stage = args.headOption.getOrElse("flagship")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val run = stages.getOrElse(stage,
      sys.error(s"unknown stage '$stage' — one of ${stages.keys.toSeq.sorted.mkString(", ")}"))
    val spark = GraftSession(GraftSession.defaultCpus, Some(sfDir))
    run(spark, sfDir)
    spark.stop()
  }

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val g0 = gcMillis
    val r = f
    // the at= stamp exposes UNTIMED gaps between consecutive stages
    // (the 1000× e2e mystery: stage timers summed to 21 s of a 480 s
    // session — the gap, not the stages, was the bill)
    println(f"[profile] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
      f"gc=${gcMillis - g0}%d ms  at=${java.time.LocalTime.now}")
    r
  }

  /** Flagship RAG pipeline, stage by stage (chunk → embed → kNN → full). */
  private def profileFlagship(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val chunks = Chunker.chunk(docs, Seq("doc_id"), separator = " the ", minLen = 20)
      .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_index"))
    time("chunks.count")(println("  n=" + chunks.count()))
    val chunkEmb = VectorOps.embedTextDistributed(chunks, Seq("chunk_id"), "chunk_text", 64)
    time("chunkEmb.count")(println("  n=" + chunkEmb.count()))
    val points = chunks.join(chunkEmb, "chunk_id")
    time("points.count")(println("  n=" + points.count()))
    val queries = VectorOps
      .embedTextDistributed(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text", 64)
      .select(col("doc_id").as("qid"), col("embedding").as("qvec"))
    time("queries.count")(println("  n=" + queries.count()))
    val hits = Knn.knnJoin(queries, points, "qid", "qvec", "chunk_id", "embedding", 5, metric = "dot")
    time("hits.count")(println("  n=" + hits.count()))
    val pc = points.cache(); pc.count()
    val qc = queries.cache(); qc.count()
    val hitsCached = Knn.knnJoin(qc, pc, "qid", "qvec", "chunk_id", "embedding", 5, metric = "dot")
    time("hits(cached inputs)")(println("  n=" + hitsCached.count()))
    val scoredOnly = pc.crossJoin(broadcast(qc))
      .select(VectorOps.dot(col("qvec"), col("embedding")).as("s"))
      .agg(sum(col("s")))
    time("dot-only agg")(println("  " + scoredOnly.first()))
    time("flagship.count")(println("  n=" + Rag.flagship(spark, sfDir).count()))
  }

  /** MinHash-LSH near-dup pipeline, stage by stage (trigram shingles). */
  private def profileLsh(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.shingleRows(docs, "doc_id", "text", 3).withColumn("h", Dedup.h32(col("sh")))
    time("shingleRows.count")(println("  n=" + sh.count()))
    val sig = Dedup.minHashSignatures(sh, 16)
    time("signatures.count")(println("  n=" + sig.count()))
    val bands = Dedup.lshBands(sig, 16, 8)
    time("bands.count")(println("  n=" + bands.count()))
    val cands = Dedup.lshCandidates(bands)
    time("candidates.count")(println("  n=" + cands.count()))
    val ver = Dedup.verifyJaccard(cands, sh)
    time("verifyJaccard.count")(println("  n=" + ver.count()))
    time("pairs>=0.5.count")(println("  n=" + ver.filter(col("jaccard") >= 0.5).count()))
  }

  /** Multimodal near-dup: signature stage vs pair stage apportioning.
    * (This bisect is how the positional-window feature explode was
    * caught at 372 µs/doc of interpreted-HOF cost — see the rejected
    * designs note in [[Multimodal.perceptualHash]]'s scaladoc.)
    */
  private def profileMmNearDup(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val sig = Multimodal.perceptualHash(docs, "doc_id", "text")
    time("perceptualHash.count")(println("  n=" + sig.count()))
    time("perceptualHash warm")(println("  n=" + sig.count()))
    // NOTE: nearDupPairs eagerly localCheckpoints the signature at
    // CONSTRUCTION time, so this block times only the pair stage; add
    // the perceptualHash row above for the full-query picture
    val full = Multimodal.nearDupPairs(docs, "doc_id", "text", 12, 4)
    time("nearDupPairs pair stage")(println("  n=" + full.count()))
  }

  /** Event sessionization: window-lag baseline vs the full operator. */
  private def profileSessionize(spark: SparkSession, sfDir: String): Unit = {
    val ev = Tables.events(spark, sfDir)
    time("events.count")(println("  n=" + ev.count()))
    time("distinct users")(println("  n=" + ev.select("user_id").distinct().count()))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val w1 = ev.withColumn("lag_ts", lag(col("ts"), 1).over(byUser))
    time("window lag only")(println("  n=" + w1.count()))
    time("sessionize")(println("  n=" + Relational.sessionize(spark, sfDir).count()))
    time("sessionize again")(println("  n=" + Relational.sessionize(spark, sfDir).count()))
  }

  /** Label-propagation clustering: per-round timing over persisted edges. */
  private def profileCluster(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text", 1, 16, 8)
      .filter(col("jaccard") >= 0.5)
    time("pairs(count)")(println("  n=" + pairs.count()))
    def mkEdges() = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    time("edges no-persist count")(println("  n=" + mkEdges().count()))
    val edges = mkEdges().persist()
    time("edges materialize (AQE-cache)")(println("  n=" + edges.count()))
    var labels = docs.select(col("doc_id"), col("doc_id").as("label"))
    for (i <- 1 to 3) {
      val nbr = edges
        .join(labels.select(col("doc_id").as("dst"), col("label")), "dst")
        .select(col("src").as("doc_id"), col("label"))
      labels = labels.union(nbr).groupBy(col("doc_id")).agg(min(col("label")).as("label"))
        .persist()
      time(s"round $i")(println("  n=" + labels.count()))
    }
  }

  /** Reproduce/attribute the "dedup_cluster slows the next query" effect. */
  private def profileInterference(spark: SparkSession, sfDir: String): Unit = {
    // Warm up like Bench does
    Seq("q1_pricing", "v_knn_join", "q_events_hourly").foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).count()
    }
    time("v_embed_text BEFORE")(SparkEntry.queries("v_embed_text")(spark, sfDir).count())
    time("dedup_cluster")(SparkEntry.queries("dedup_cluster")(spark, sfDir).count())
    time("clearCache")(spark.catalog.clearCache())
    time("v_embed_text AFTER")(SparkEntry.queries("v_embed_text")(spark, sfDir).count())
    time("v_embed_text AFTER2")(SparkEntry.queries("v_embed_text")(spark, sfDir).count())
    time("rag_flagship AFTER")(SparkEntry.queries("rag_flagship")(spark, sfDir).count())
  }

  /** Semantic-dedup fourth-decade smoke, stage by stage. Two bit
    * widths: the registered query's bits=4 (whose 16 buckets saturate
    * the hot-bucket cap on a corpus over 16·maxBucketSize vectors —
    * the guard excludes them all and zero pairs emerge, the
    * documented recall/guard trade-off), then the VOLUME-SIZED width
    * from `SPARK_GRAFT_BITS` (default 14: 16k buckets ≈ N/16k per
    * bucket at 2M vectors — the knob a production deployment sets
    * from its corpus size, exactly like shuffle partitions).
    */
  private def profileSemDedup(spark: SparkSession, sfDir: String): Unit = {
    val emb = Tables.embeddings(spark, sfDir)
    time("corpus count")(println("  n=" + emb.count()))
    for (bits <- Seq(4, sys.env.getOrElse("SPARK_GRAFT_BITS", "14").toInt)) {
      val bkt = emb.withColumn("__b", SimilaritySearch.signBucket("embedding", bits))
        .groupBy(col("__b")).count()
      time(s"bits=$bits bucket histogram") {
        val r = bkt.agg(count(lit(1)), max(col("count")), min(col("count"))).head()
        println(s"  buckets=${r.getLong(0)} max=${r.getLong(1)} min=${r.getLong(2)}")
      }
      val pairs = SimilaritySearch.cosineNearDup(emb, "vec_id", "embedding",
        threshold = 0.4, bits = bits)
      time(s"bits=$bits candidate+verified pairs")(println("  pairs=" + pairs.count()))
      // constructing the converged form RUNS the label-propagation
      // rounds (eager per-round localCheckpoints) — time it as its own
      // stage or the loop cost vanishes from the attribution
      val dedup = time(s"bits=$bits converged label propagation (construction)") {
        SimilaritySearch.semanticDedup(emb, "vec_id", "embedding",
          threshold = 0.4, bits = bits, iterations = 0)
      }
      time(s"bits=$bits semanticDedup final agg") {
        val r = dedup.agg(count(lit(1)),
          sum(when(col("keep"), 1L).otherwise(0L))).head()
        println(s"  rows=${r.getLong(0)} kept=${r.getLong(1)}")
      }
      spark.catalog.clearCache()
    }
  }

  /** pipeline_e2e stage by stage — the composed-bill attribution the
    * 100× row records. Mirrors the registered query. ATTRIBUTION
    * LESSON (found at 1000×): a `localCheckpoint(false)` is lazy only
    * for its FINAL stage — under AQE, `AdaptiveSparkPlanExec.execute()`
    * runs every upstream query stage (all shuffles) at checkpoint
    * CONSTRUCTION to pick the final plan. So every checkpoint
    * construction sits under its own `*-construct` timer; the count()
    * timers measure only the final-stage tail. (The registered query's
    * wall-clock is unaffected — this is profiler placement, not a plan
    * change.)
    */
  private def profileE2e(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val cleaned = time("1-construct clean checkpoint") {
      Clean.removeBoilerplate(docs, "doc_id", "text",
          sep = " the ", minDocs = 3)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text"))
        .localCheckpoint(false)
    }
    time("1 clean")(println("  n=" + cleaned.count()))
    val okIds = time("2-construct qualityFilter") {
      TextAnalysis.qualityFilter(cleaned, "doc_id", "text")
        .filter(col("reason") === "ok").select(col("doc_id"))
    }
    val qdocs = time("2-construct checkpoint") {
      cleaned.join(okIds, Seq("doc_id")).localCheckpoint(false)
    }
    time("2 quality gate")(println("  n=" + qdocs.count()))
    val pairs = time("3a-construct LSH checkpoint") {
      Dedup.minHashLsh(qdocs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
        .localCheckpoint(false)
    }
    time("3a LSH pairs")(println("  n=" + pairs.count()))
    // keepBest's label rounds run EAGERLY at construction (per-round
    // localCheckpoints) — time the construction or the loop cost
    // vanishes from the attribution (the semdedup-profile lesson)
    val survivors = time("3b label propagation (construction)") {
      Dedup.keepBest(qdocs, "doc_id", "text", pairs, iterations = 3)
        .select(col("doc_id"))
    }
    val sdocs = time("3c-construct checkpoint") {
      qdocs.join(survivors, Seq("doc_id"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .localCheckpoint(false)
    }
    time("3c keep-best survivors")(println("  n=" + sdocs.count()))
    val dsirSel = time("4a DSIR select (construction)") {
      graft.ops.Curation.dsirSelect(sdocs, "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 256, keepFrac = 0.25)
    }
    val pool = time("4b-construct checkpoint") {
      sdocs.filter(col("lang") === "en")
        .unionByName(sdocs.join(dsirSel.select(col("doc_id")), Seq("doc_id")))
        .localCheckpoint(false)
    }
    time("4b DSIR select + pool")(println("  n=" + pool.count()))
    val mixed = TextAnalysis.tokenBudgetSample(pool, "doc_id", "lang", "text",
      budgets = Map("en" -> 6000L, "zh" -> 1500L), defaultBudget = 2000L)
    val selected = pool.join(mixed.select(col("doc_id")), Seq("doc_id"))
    // knobs single-sourced from the registry chain (pipelineE2eChain
    // is the source of truth; this profile re-expresses its stages
    // inline ONLY to attach per-stage timers and counts — keep any
    // knob change there mirrored here or the staged-vs-checkpointed
    // comparisons stop measuring the same chain)
    val order = graft.ops.Curation.epochShuffle(selected, "doc_id",
      seed = SparkEntryExt.epochSeed, nShards = SparkEntryExt.epochShards)
    val keyed = time("5-6-construct checkpoint") {
      selected.join(order, Seq("doc_id"))
        .withColumn("__ord", col("shard").cast("long") * lit(1L << 40) + col("pos"))
        .localCheckpoint(false)
    }
    time("5-6 mix + epoch shuffle")(println("  n=" + keyed.count()))
    val packed = TextAnalysis.packSequences(keyed, "__ord", "text", seqLen = 512)
    val out = packed.select(col("doc_id").as("__ord"), col("n_tokens"),
        col("seq_start"), col("seq_end"), col("offset"))
      .join(keyed.select(col("__ord"), col("doc_id"), col("lang"),
        col("shard"), col("pos")), Seq("__ord"))
    time("7 pack + join back")(println("  n=" + out.count()))
  }

  /** The DURABLE-STAGING twin of the e2e profile: the same chain with
    * every checkpoint boundary a Parquet stage table
    * (SparkEntryExt.pipelineE2eStaged — the 100-TB execution form).
    * One total wall-clock plus a per-stage directory listing; compare
    * against the `e2e` stage's checkpointed total at the same decade
    * to price the storage round-trips the restartable form buys.
    * Stage dir: SPARK_GRAFT_STAGE_DIR or a temp dir.
    */
  private def profileE2eStaged(spark: SparkSession, sfDir: String): Unit = {
    val stageDir = sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR",
      java.nio.file.Files.createTempDirectory("e2e_staged").toString)
    println(s"[profile] stageDir=$stageDir")
    // the 5 staged boundaries run eagerly here; the final pack+join
    // builds lazily on the keyed table and executes under the second
    // timer — sum BOTH for the chain total (the checkpointed profile's
    // per-stage sum includes its pack stage)
    val out = time("5 staged boundaries (writes+reads)") {
      SparkEntryExt.pipelineE2eStaged(spark, sfDir, stageDir)
    }
    time("final pack + join (lazy tail)")(println("  n=" + out.count()))
    for (name <- Seq("cleaned", "qdocs", "sdocs", "pool", "keyed")) {
      val d = new java.io.File(s"$stageDir/$name")
      // parquet payload only — _SUCCESS/_schema.json/.crc excluded
      val bytes = Option(d.listFiles())
        .map(_.filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length()).sum)
        .getOrElse(0L)
      // read with the stage's _schema.json (the staged cut's own
      // degenerate-corpus discipline): a stage that winnows to zero
      // rows has no part files and would fail schema inference here
      val schemaFile = new java.io.File(d, "_schema.json")
      val reader =
        if (schemaFile.isFile) {
          val json = new String(
            java.nio.file.Files.readAllBytes(schemaFile.toPath), "UTF-8")
          spark.read.schema(org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        } else spark.read
      println(f"[profile]   stage $name%-8s ${bytes / 1e6}%9.1f MB  " +
        s"rows=${reader.parquet(d.toString).count()}")
    }
  }
}
