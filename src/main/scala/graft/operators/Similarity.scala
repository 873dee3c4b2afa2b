package graft.operators

import graft.GQuery
import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - q27: exact brute-force cosine top-k for one query vector — the
  *    baseline every ANN variant is measured against. One scan, no shuffle
  *    of the corpus, ranking via TakeOrdered semantics.
  *  - q28: LSH-bucketed ANN (random-hyperplane signatures, multi-probe on
  *    1-bit flips) — the scale path: candidate set is a bucket join, not a
  *    corpus scan. Approximate → rows-only check; the spec asserts overlap
  *    vs q27.
  *  - q29: embedding near-duplicate pairs (cosine ≥ 0.98) via the same LSH
  *    buckets — all-pairs only within buckets.
  *
  * All dot products run in double precision over `array<double>` casts:
  * float×float promoted per-element, sequential left-fold sum — bit-stable
  * and matched by the DuckDB oracle's list_cosine_similarity on DOUBLE[].
  */
object Similarity {

  val K = 10
  val QueryVecId = 0L

  /** Cosine similarity between two array<double> columns — native fused
    * Catalyst expression (codegen'd single loop, no intermediate arrays). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(a, b)

  /** Higher-order-function formulation (identical fold order and results);
    * kept for the spec that proves the native expression matches it. */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, v) => u * v), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact integer dot over array<long> codes — fused codegen expression
    * (see [[graft.functions.VectorExpressions.longDot]]); result equals the
    * `aggregate(zip_with(·,·,*), 0L, +)` fold bit for bit. */
  def longDot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.longDot(a, b)

  /** HOF formulation of [[longDot]], kept for the equivalence spec. */
  def longDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (u, v) => u * v), lit(0L), (acc, v) => acc + v)

  /** Exact integer squared L2 distance over array<long> codes — fused
    * codegen expression. */
  def longSqDist(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.longSqDist(a, b)

  /** HOF formulation of [[longSqDist]], kept for the equivalence spec. */
  def longSqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (a0, x) => a0 + x)

  private[graft] def embeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))

  /** q27 — brute-force exact top-k neighbors of vector 0 (excluded itself).
    * Rounded to 3 dp for cross-engine rank stability; ties broken by id. */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, dir)
    val q = emb.filter($"vec_id" === QueryVecId)
      .select($"vec".as("qvec"))
    val topk = emb.filter($"vec_id" =!= QueryVecId)
      .crossJoin(broadcast(q))
      .select($"vec_id", round(cosine($"vec", $"qvec"), 3).as("sim"))
      .orderBy($"sim".desc, $"vec_id")
      .limit(K) // TakeOrderedAndProject: per-partition top-k, no global sort
    // rank assignment runs over just K rows, so the unpartitioned window is
    // not a scale bottleneck
    topk.withColumn("rank", row_number().over(Window.orderBy($"sim".desc, $"vec_id")))
      .select($"rank", $"vec_id", $"sim")
      .orderBy($"rank")
  }

  private val q27Sql =
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = $QueryVecId),
       |sims AS (SELECT e.vec_id,
       |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 3) AS sim
       |  FROM embeddings e, q WHERE e.vec_id <> $QueryVecId),
       |ranked AS (SELECT vec_id, sim,
       |    ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rank FROM sims)
       |SELECT rank, vec_id, sim FROM ranked WHERE rank <= $K ORDER BY rank""".stripMargin

  val Planes = 12

  /** Deterministic random hyperplanes: coefficient (p, d) from a seeded
    * xorshift-mixed hash — reproducible across runs and engines. */
  private def planeCoef(p: Int, d: Int): Double = {
    var x = (p.toLong * 1315423911L) ^ (d.toLong * 2654435761L) ^ 0x9E3779B97F4A7C15L
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    // map to (-1, 1)
    (x.toDouble / Long.MaxValue.toDouble)
  }

  /** sig = bit per hyperplane: sign of <vec, plane>. The per-plane dot is
    * the fused native expression (identical left-to-right double fold →
    * bit-equal signs). */
  def lshSignature(s: SparkSession, vecCol: Column): Column = {
    val bits: Seq[Column] = (0 until Planes).map { p =>
      val coefs = typedLit((0 until 64).map(d => planeCoef(p, d)))
      val dot = graft.functions.VectorExpressions.dot(vecCol, coefs)
      when(dot >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Buckets probed for a signature: itself + all 1-bit flips (multi-probe). */
  private def probes(sig: Column): Column =
    array_union(array(sig), array((0 until Planes).map(p => sig.bitwiseXOR(lit(1L << p))): _*))

  val Centroids = 8
  val NProbe = 3

  /** SEED-based IVF assignment: every vector assigned to its nearest of
    * the first [[Centroids]] corpus vectors by id — the Lloyd INIT, kept
    * as the all-cells-probe spec baseline (PipelineSpec) now that every
    * registered retrieval query serves from [[trainedCentroids]].
    * Returns (vec_id, vec, cell).
    *
    * Zero-shuffle assignment: the centroid set is ONE broadcast row of
    * array<array<double>>; each vector computes its [[Centroids]] cosines
    * and the argmax inside a single projection — no explode, no window, no
    * repartition of the corpus (the round-1 crossJoin+row_number plan paid
    * an 8× blow-up plus a full shuffle for the same result). Ties go to the
    * smallest cent_id (array_position returns the first maximum). */
  def ivfAssign(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val centsRow = emb.filter($"vec_id" < Centroids)
      .agg(array_sort(collect_list(struct($"vec_id", $"vec"))).as("cs"))
    // cell = the centroid's actual vec_id (not its array position): keeps
    // the cell labels meaningful — and identical to the SQL oracle's
    // cent_id — even if the corpus is missing some id below Centroids
    emb.crossJoin(broadcast(centsRow))
      .withColumn("sims", transform($"cs", c => cosine($"vec", c("vec"))))
      .withColumn("pos", array_position($"sims", array_max($"sims")).cast("int"))
      .withColumn("cell", element_at($"cs", $"pos")("vec_id"))
      .select($"vec_id", $"vec", $"cell")
  }

  // one persisted index per (session, sf dir): build once, query many —
  // the amortization split a real ANN service needs, and what makes the
  // benchmarked q28 measure the partition-pruned probe, not the build.
  // The entry carries the TRAINED centroids beside the path (the query
  // side needs them to pick probe cells).
  private val indexes = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, Seq[(Long, Seq[Double])])]

  private def ivfIndex(s: SparkSession, dir: String): (String, Seq[(Long, Seq[Double])]) = {
    val idx = indexes.getOrElseUpdate((s, dir), {
      val d = java.nio.file.Files.createTempDirectory("ivfindex")
      // temp indexes are process-scoped: reclaim them on JVM exit so a
      // long-lived harness doesn't accumulate orphaned directories
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () }))
      val cents = trainedCentroids(s, dir)
      assignToCentroids(embeddings(s, dir), cents).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(d.toString)
      (d.toString, cents)
    })
    graft.store.CorpusCaches.retain(s, dir, "sim:ivfindex")(() =>
      indexes.remove((s, dir)).foreach { case (path, _) =>
        // reclaim the temp index files now rather than at JVM exit
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator()
            .asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      })
    idx
  }

  /** q28 — ANN top-k for vector 0 via the persisted TRAINED IVF index:
    * probe the [[NProbe]] trained centroids nearest to the query,
    * partition-pruned scan of just those cell directories, exact re-rank
    * inside them. Probe selection runs on the driver over [[Centroids]]
    * tiny rows; the corpus is only touched through the pruned index
    * scan. */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val (idxDir, cents) = ivfIndex(s, dir)
    ivfServeTopK(s, dir, s.read.parquet(idxDir), cents)
  }

  /** The q28 serving path against ANY persisted IVF index frame laid out
    * by [[assignToCentroids]] partitioning (cell-partitioned parquet;
    * extra partition columns such as a streamed index's `batch` ride along
    * unreferenced): driver-side probe selection over the k centroids,
    * partition-pruned scan of the probed cells, exact re-rank. Shared by
    * q28 (batch-built index) and q89 ([[graft.streaming.AnnStream]]-built
    * index, read through its store's live batches) — one code path, so
    * the streamed serve is oracle-comparable by construction. */
  private[graft] def ivfServeTopK(s: SparkSession, dir: String, index: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import s.implicits._
    val qvec = queryVector(s, dir)
    rankTopK(index.filter($"cell".isInCollection(probeCells(qvec, cents))), qvec)
  }

  /** The registered query vector (vec 0) — driver-side, one point lookup. */
  private[graft] def queryVector(s: SparkSession, dir: String): Seq[Double] = {
    import s.implicits._
    embeddings(s, dir).filter($"vec_id" === QueryVecId).collect()(0).getSeq[Double](1)
  }

  /** Driver-side probe selection: the [[NProbe]] centroids nearest the
    * query by cosine, ties to the smaller id — over k tiny rows. */
  private[graft] def probeCells(qvec: Seq[Double],
      cents: Seq[(Long, Seq[Double])]): Seq[Long] = {
    def cosLocal(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    cents.map { case (id, c) => (cosLocal(c, qvec), id) }
      .sortBy { case (sim, id) => (-sim, id) }
      .take(NProbe).map(_._2)
  }

  /** Exact re-rank of a candidate frame (vec_id, vec, …) against the
    * query vector — the q28 serving tail, shared by the batch index, the
    * [[graft.streaming.AnnStream]] serve (q89) and the
    * [[graft.streaming.AnnDeltaStream]] liveness-resolved serve (q110),
    * so every serve is oracle-comparable by construction. The rank window
    * runs over just K rows. */
  private[graft] def rankTopK(cand: DataFrame, qvec: Seq[Double]): DataFrame = {
    import cand.sparkSession.implicits._
    val topk = cand
      .withColumn("sim", round(cosine($"vec",
        array(qvec.map(lit): _*).cast("array<double>")), 3))
      .select($"vec_id", $"sim")
      .filter($"vec_id" =!= QueryVecId)
      .orderBy($"sim".desc, $"vec_id")
      .limit(K)
    topk.withColumn("rank", row_number().over(Window.orderBy($"sim".desc, $"vec_id")))
      .select($"rank", $"vec_id", $"sim")
      .orderBy($"rank")
  }

  /** Oracle: the identical deterministic IVF pipeline in SQL — Lloyd
    * training unrolled (see [[lloydCtes]]), argmax cell assignment against
    * the TRAINED centroids, top-[[NProbe]] probe, exact re-rank within
    * probed cells. */
  private[graft] def q28Sql: String = q28SqlOn("")

  /** q28's oracle with an extra predicate on the CANDIDATE rows (`a` =
    * the assigned corpus): the q110 parameterization — training, probe
    * selection and ranking are untouched (the frozen-codebook contract:
    * deletions remove index rows, never retrain), only the servable
    * corpus shrinks. Mirrors [[GraphQueries.q80SqlOn]]'s shape. */
  private[graft] def q28SqlOn(candPred: String): String =
    s"""WITH ${lloydCtes(Centroids, TrainIters, TrainSampleMod)},
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT cent_id, cv FROM t_cent$TrainIters),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
       |sims AS (SELECT e.vec_id, e.v, c.cent_id,
       |    list_cosine_similarity(e.v, c.cv) AS cs FROM e CROSS JOIN c),
       |assign AS (SELECT vec_id, v, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM sims) WHERE rn = 1),
       |probed AS (SELECT c.cent_id AS cell FROM c CROSS JOIN q
       |    ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.cent_id LIMIT $NProbe),
       |cand AS (SELECT a.vec_id, a.v FROM assign a JOIN probed p ON a.cell = p.cell
       |    WHERE a.vec_id <> $QueryVecId$candPred),
       |ranked AS (SELECT vec_id, ROUND(list_cosine_similarity(v, q.qv), 3) AS sim
       |    FROM cand CROSS JOIN q),
       |top AS (SELECT vec_id, sim, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rank
       |    FROM ranked)
       |SELECT rank, vec_id, sim FROM top WHERE rank <= $K ORDER BY rank""".stripMargin

  /** The centroid list as ONE literal array-of-structs column (k·dim
    * double literals — broadcast-free, sorted by centroid id so positional
    * argmax ties resolve to the smallest id). */
  /** Literal-struct shape of the embedded centroid list. */
  private case class CentLit(vec_id: Long, vec: Seq[Double])

  /** ONE literal expression node holding the whole centroid list (an
    * `array(struct(lit, array(lit...)))` tree is k·(dim+1) expression
    * nodes — ~520 at the shipped geometry — and every run re-pays
    * analysis/optimization walks over it; a single typed literal carries
    * the same value in one node). Field names and element values are
    * identical, so consumers and oracle parity are untouched. */
  private def centStructs(cents: Seq[(Long, Seq[Double])]): Column =
    typedLit(cents.sortBy(_._1).map { case (id, v) => CentLit(id, v) })

  /** Assign every vector to its argmax-cosine centroid from an explicit
    * centroid list (driver-provided, embedded as literals — k·dim doubles,
    * broadcast-free). Same zero-shuffle single-projection plan as
    * [[ivfAssign]]; ties to the smallest centroid id. */
  def assignToCentroids(emb: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import emb.sparkSession.implicits._
    emb.withColumn("cs", centStructs(cents))
      .withColumn("sims", transform($"cs", c => cosine($"vec", c("vec"))))
      .withColumn("pos", array_position($"sims", array_max($"sims")).cast("int"))
      .withColumn("cell", element_at($"cs", $"pos")("vec_id"))
      .select($"vec_id", $"vec", $"cell")
  }

  /** Replace a frame's `vec` column with its int8 code column `qs` —
    * q62's per-vector symmetric quantization arithmetic — KEEPING every
    * other column (q109 rides assignment and quantization through one
    * projection instead of re-joining two corpus-sized derivations of the
    * same scan). The scale lands in a named intermediate column so it is
    * evaluated once per row, not once per element inside the transform
    * lambdas. */
  def withInt8Codes(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    // zero-scale branch preserves the input vector's length (the oracle's
    // per-element CASE does too) — a fixed-length literal would silently
    // couple this helper to the shipped 64-dim corpus. The intermediate
    // lands under an internal name so a caller frame that happens to carry
    // its own `scale` column passes through untouched (withColumn replaces
    // by name — the plain name would silently overwrite caller data).
    df.withColumn("__q62_scale", array_max(transform($"vec", x => abs(x))) / lit(127.0))
      .withColumn("qs",
        when($"__q62_scale" === 0.0, transform($"vec", _ => lit(0L)))
          .otherwise(transform($"vec", x => floor(x / $"__q62_scale" + lit(0.5)).cast("long"))))
      .drop("__q62_scale", "vec")
  }

  /** (vec_id, qs) int8 codes of a (vec_id, vec) frame — the historical
    * two-column shape [[trainCentroids]]/q62/q78/q86 consume. */
  def int8Codes(emb: DataFrame): DataFrame =
    withInt8Codes(emb).select(col("vec_id"), col("qs"))

  /** Lloyd iterations / training-sample modulus of the REGISTERED queries
    * (q28/q61/q67/q78 all serve from one trained centroid set per
    * (session, sf dir)); the sample modulus exercises the train-on-a-
    * sample path a 100 TB run would take (~10⁻⁴ of the corpus there). */
  val TrainIters = 5
  val TrainSampleMod = 2L

  /** Lloyd (spherical k-means) centroid training on a deterministic
    * sample — in EXACT integer arithmetic, which is what lets the trained
    * index keep a DuckDB oracle: training runs on the int8-quantized
    * vectors (the q62 representation a 100 TB embedding corpus ships),
    * seeds are the first k corpus vectors' codes (the Lloyd INIT — the
    * registered pre-round-6 seeding), and each round re-centers a cell on
    * the per-component INTEGER SUM of its members (cosine is
    * scale-invariant, so the unnormalized component sum is a valid
    * spherical centroid direction — the q69 trick applied to training).
    * Every centroid component is therefore an exact integer (< 2⁵³ by
    * orders of magnitude), independent of partitioning and summation
    * order, so Spark and the unrolled-SQL oracle train BIT-IDENTICAL
    * centroids; the only floating point anywhere is the per-row cosine
    * argmax both engines evaluate on identical inputs. The per-round
    * re-center is one elementwise aggregation (k·dim values collected per
    * round, independent of corpus size); assignment is the zero-shuffle
    * literal-centroid projection, so a round costs one scan of the
    * sample. Empty cells keep their previous centroid. `iters = 0`
    * returns the quantized seeds. */
  def trainCentroids(emb: DataFrame, k: Int = Centroids, iters: Int = TrainIters,
      sampleMod: Long = 1L): Seq[(Long, Seq[Double])] = {
    import emb.sparkSession.implicits._
    val codes = int8Codes(emb)
    val sample =
      (if (sampleMod > 1L) codes.filter($"vec_id" % sampleMod === 0L) else codes)
        .select($"vec_id", $"qs".cast("array<double>").as("vec")).cache()
    var cents: Seq[(Long, Seq[Double])] = codes.filter($"vec_id" < k).orderBy($"vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).map(_.toDouble))).toSeq
    for (_ <- 0 until iters) {
      val sums = assignToCentroids(sample, cents)
        .select($"cell", posexplode($"vec"))
        .toDF("cell", "pos", "x")
        // sum of integer-valued doubles: exact, associative, order-free
        .groupBy($"cell", $"pos").agg(sum($"x").as("m"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0))
      cents = cents.map { case (cid, old) =>
        byCell.get(cid) match {
          case Some(rows) =>
            val arr = new Array[Double](old.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
            (cid, arr.toSeq)
          case None => (cid, old)
        }
      }
    }
    sample.unpersist()
    cents
  }

  // one trained centroid set per (session, sf dir): q28/q61/q67/q78 all
  // serve from it — training is load-bearing for every registered
  // retrieval query, paid once per corpus snapshot like the other
  // prepare-stage artifacts
  private val trainedCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Seq[(Long, Seq[Double])]]

  def trainedCentroids(s: SparkSession, dir: String): Seq[(Long, Seq[Double])] = {
    val cents = trainedCache.getOrElseUpdate((s, dir),
      trainCentroids(embeddings(s, dir), Centroids, TrainIters, TrainSampleMod))
    graft.store.CorpusCaches.retain(s, dir, "sim:centroids")(
      () => { trainedCache.remove((s, dir)); () })
    cents
  }

  /** Mean best-centroid cosine over the corpus — the spherical k-means
    * objective; the training spec asserts it does not degrade. */
  def assignmentQuality(emb: DataFrame, cents: Seq[(Long, Seq[Double])]): Double = {
    import emb.sparkSession.implicits._
    val centArr = array(cents.sortBy(_._1).map { case (_, v) =>
      array(v.map(lit): _*).cast("array<double>")
    }: _*)
    emb.select(array_max(transform(centArr, c => cosine($"vec", c))).as("best"))
      .agg(avg($"best")).head().getDouble(0)
  }

  /** Build a persisted IVF index on TRAINED centroids and return them
    * (the query side needs the centroids to pick probe cells). */
  def buildTrainedIvfIndex(emb: DataFrame, indexDir: String, k: Int = Centroids,
      iters: Int = 5, sampleMod: Long = 1L): Seq[(Long, Seq[Double])] = {
    val cents = trainCentroids(emb, k, iters, sampleMod)
    assignToCentroids(emb, cents).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(indexDir)
    cents
  }

  /** Persisted IVF index: cell assignments written as parquet partitioned
    * BY cell, so probing nprobe cells is a partition-pruned scan — at
    * 100 TB the query reads only probed directories, never the corpus.
    * Build once, query many (the amortization split a real ANN service
    * needs). */
  def buildIvfIndex(emb: DataFrame, indexDir: String): Unit =
    ivfAssign(emb).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(indexDir)

  /** Query a persisted index: nprobe nearest cells → pruned scan → exact
    * re-rank. `cells` are the probed cell ids (from centroid similarity). */
  def queryIvfIndex(s: SparkSession, indexDir: String, qvec: Seq[Double],
      cells: Seq[Long], k: Int = K): DataFrame =
    queryIvfIndex(s.read.parquet(indexDir), qvec, cells, k)

  /** [[queryIvfIndex]] over an already-resolved index frame. */
  def queryIvfIndex(index: DataFrame, qvec: Seq[Double], cells: Seq[Long],
      k: Int): DataFrame = {
    import index.sparkSession.implicits._
    val idx = index.filter($"cell".isin(cells: _*))
    idx.withColumn("sim", round(cosine($"vec",
        array(qvec.map(lit): _*).cast("array<double>")), 3))
      .orderBy($"sim".desc, $"vec_id")
      .limit(k)
      .select($"vec_id", $"sim")
  }

  /** The Lloyd training loop of [[trainCentroids]] unrolled as DuckDB
    * CTEs (`t_`-prefixed to stay clear of consumer CTE names): quantize,
    * seed from the first k codes, then per iteration an argmax-cosine
    * assignment of the sample and an exact integer re-center with
    * empty-cell carryover. Ends at `t_cent<iters>` (cent_id, cv) — the
    * trained centroids, bit-identical to the Scala side's because every
    * centroid component is an exact integer and the assignment compares
    * cosines both engines compute from identical exact inputs. */
  private def lloydCtes(k: Int, iters: Int, sampleMod: Long): String = {
    val it = (1 to iters).map { i =>
      s"""t_asg$i AS (SELECT vec_id, sv, cent_id FROM (
         |    SELECT s.vec_id, s.sv, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |        ORDER BY list_cosine_similarity(s.sv, c.cv) DESC, c.cent_id) AS rn
         |    FROM t_samp s CROSS JOIN t_cent${i - 1} c) WHERE rn = 1),
         |t_sum$i AS (SELECT cent_id, j AS pos, CAST(SUM(sv[j]) AS DOUBLE) AS m
         |    FROM t_asg$i, range(1, 65) t(j) GROUP BY cent_id, j),
         |t_cent$i AS (SELECT p.cent_id, COALESCE(n.cv, p.cv) AS cv
         |    FROM t_cent${i - 1} p LEFT JOIN (
         |      SELECT cent_id, list(m ORDER BY pos) AS cv FROM t_sum$i GROUP BY cent_id) n
         |    ON n.cent_id = p.cent_id)""".stripMargin
    }.mkString(",\n")
    s"""t_e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |t_sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM t_e),
       |t_qz AS (SELECT vec_id, list_transform(v, x ->
       |    CASE WHEN scale = 0 THEN CAST(0 AS BIGINT) ELSE CAST(FLOOR(x / scale + 0.5) AS BIGINT) END) AS qs
       |  FROM t_sc),
       |t_samp AS (SELECT vec_id, list_transform(qs, x -> CAST(x AS DOUBLE)) AS sv
       |  FROM t_qz WHERE vec_id % $sampleMod = 0),
       |t_cent0 AS (SELECT vec_id AS cent_id, list_transform(qs, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM t_qz WHERE vec_id < $k),
       |$it""".stripMargin
  }

  val BatchQueryMod = 50L

  /** q61 — BATCH ANN: IVF top-k for every query in a query set at once —
    * the retrieval workload shape (single-query q28 serves a point lookup
    * via partition-pruned scan; a training-data pipeline runs millions of
    * queries, where per-query pruning degenerates into millions of tiny
    * jobs). The batch plan is pure joins: probe-cell selection is one
    * projection per query against the broadcast centroid row (top-NProbe
    * cells via an array sort over Centroids entries — no window over the
    * corpus), candidates come from ONE equi-join on the cell id, and the
    * per-query re-rank window only ever sorts a query's own candidates
    * (the nprobe/k recall-cost dial, not a corpus sort). Scales as
    * queries × probed-cell volume, the IVF contract. */
  private def q61(s: SparkSession, dir: String): DataFrame =
    batchAnnTopK(s, dir, BatchQueryMod)

  /** Batch IVF top-k for every vector with `vec_id % queryMod == 0` —
    * the shared retrieval core of q61 (retrieval output) and q67 (label
    * consistency), served from the TRAINED centroids ([[trainedCentroids]]
    * — seeds are only the Lloyd init). Returns
    * (query_id, rank, vec_id, sim). */
  def batchAnnTopK(s: SparkSession, dir: String, queryMod: Long): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, dir)
    val cents = trainedCentroids(s, dir)
    val assigned = assignToCentroids(emb, cents)
    val probed = emb.filter($"vec_id" % queryMod === 0L)
      .withColumn("cs", centStructs(cents)) // literal centroids: no join at all
      .select($"vec_id".as("query_id"), $"vec".as("qvec"),
        // sort by (−sim, cell): sim DESC with ties to the smaller cell id
        slice(array_sort(transform($"cs",
          c => struct((-cosine($"vec", c("vec"))).as("negsim"), c("vec_id").as("cell")))),
          1, NProbe).as("cells"))
      .select($"query_id", $"qvec", explode($"cells.cell").as("cell"))
    val cand = probed.join(assigned, "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", round(cosine($"vec", $"qvec"), 3).as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
    cand.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"rank", $"vec_id", $"sim")
      .orderBy($"query_id", $"rank")
  }

  /** Shared CTE chain of the batch-ANN oracle (through `top`), mod-
    * parameterized so q61 and q67 stay one pipeline in SQL too. The
    * centroid relation is the unrolled-Lloyd result, not the seeds. */
  private def batchAnnCtes(queryMod: Long): String =
    s"""WITH ${lloydCtes(Centroids, TrainIters, TrainSampleMod)},
       |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT cent_id, cv FROM t_cent$TrainIters),
       |sims AS (SELECT e.vec_id, e.v, c.cent_id,
       |    list_cosine_similarity(e.v, c.cv) AS cs FROM e CROSS JOIN c),
       |assign AS (SELECT vec_id, v, cent_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM sims) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $queryMod = 0),
       |qcells AS (SELECT query_id, qv, cent_id AS cell FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.cent_id) AS rn
       |    FROM q CROSS JOIN c) WHERE rn <= $NProbe),
       |cand AS (SELECT qc.query_id, a.vec_id,
       |    ROUND(list_cosine_similarity(a.v, qc.qv), 3) AS sim
       |  FROM qcells qc JOIN assign a ON a.cell = qc.cell
       |  WHERE a.vec_id <> qc.query_id),
       |top AS (SELECT query_id, vec_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM cand)""".stripMargin

  private val q61Sql =
    s"""${batchAnnCtes(BatchQueryMod)}
       |SELECT query_id, rank, vec_id, sim FROM top WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** q62 — symmetric int8 quantization of the embedding column: per-vector
    * scale = max|x|/127, q_i = ⌊x_i/scale + 0.5⌋ (explicit floor-based
    * round-half-up — `round()` half-even/half-away semantics differ across
    * engines, floor does not). This is the storage format a 100 TB
    * embedding corpus actually ships (4× smaller than float32, 8× smaller
    * than the double working form); the emitted integer aggregates
    * (Σq, Σq², saturation count) are exact on both engines and pin every
    * quantized value, so a rounding or scale bug cannot hash-pass. Pure
    * per-row projection — no shuffle, embarrassingly parallel. */
  /** (vec_id, label, scale, qs) — the shared int8 quantization (q62's
    * projection, reused by the q69 centroid audit). */
  def quantized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "embeddings")
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("vec"))
      .withColumn("scale", array_max(transform($"vec", x => abs(x))) / lit(127.0))
      .withColumn("qs",
        when($"scale" === 0.0, array_repeat(lit(0L), 64))
          .otherwise(transform($"vec", x => floor(x / $"scale" + lit(0.5)).cast("long"))))
      .select($"vec_id", $"label", $"scale", $"qs")
  }

  private def q62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = quantized(s, dir)
    q.select($"vec_id", $"scale",
        aggregate($"qs", lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate($"qs", lit(0L), (a, x) => a + x * x).as("q_norm"),
        aggregate($"qs", lit(0L),
          (a, x) => a + when(abs(x) === 127L, 1L).otherwise(0L)).as("n_saturated"))
      .orderBy($"vec_id")
  }

  private val q62Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
      |x AS (SELECT vec_id, scale, unnest(v) AS x FROM s),
      |q AS (SELECT vec_id, scale,
      |    CASE WHEN scale = 0 THEN 0 ELSE CAST(FLOOR(x / scale + 0.5) AS BIGINT) END AS qi
      |  FROM x)
      |SELECT vec_id, MIN(scale) AS scale,
      |  CAST(SUM(qi) AS BIGINT) AS q_sum,
      |  CAST(SUM(qi * qi) AS BIGINT) AS q_norm,
      |  CAST(SUM(CASE WHEN ABS(qi) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
      |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Near-dup similarity floor for the registered q29: the driver's
    * synthetic embeddings are near-orthogonal random vectors (max pairwise
    * cosine ≈ 0.51 at sf0.01), so a production-style 0.98 floor returns the
    * empty set — correct but evidence-free. 0.30 exercises the identical
    * LSH-bucket → exact-verify plan on pairs the corpus actually contains;
    * the production threshold is just a parameter of [[embedDupPairs]]. */
  val DupThreshold = 0.30

  /** Embedding near-duplicate pairs (cosine ≥ threshold): bucket-local
    * all-pairs over LSH signature groups with multi-probe, exact verify.
    * Never all-pairs at corpus scale: candidates share an exact bucket or
    * differ by one signature bit (the multi-probe contract). */
  def embedDupPairs(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, dir).withColumn("sig", lshSignature(s, $"vec")).cache()
    val probed = emb.select($"vec_id", $"vec", explode(probes($"sig")).as("bucket"))
    val base = emb.select($"vec_id".as("doc_b"), $"vec".as("vec_b"), $"sig".as("bucket"))
    val cand = probed.join(base, Seq("bucket"))
      .filter($"vec_id" < $"doc_b")
      .select($"vec_id".as("doc_a"), $"doc_b", $"vec".as("vec_a"), $"vec_b")
      .dropDuplicates("doc_a", "doc_b")
    cand.select($"doc_a", $"doc_b", round(cosine($"vec_a", $"vec_b"), 3).as("sim"))
      .filter($"sim" >= threshold)
      .orderBy($"doc_a", $"doc_b")
  }

  private def q29(s: SparkSession, dir: String): DataFrame =
    embedDupPairs(s, dir, DupThreshold)

  /** Oracle: the LSH pipeline replicated exactly in SQL. The hyperplane
    * coefficients are embedded as double literals (shortest-repr round-trip
    * is exact both ways); the per-plane dot product is the same
    * left-to-right fold as the Spark `aggregate`; and "shares a probed
    * bucket" reduces to bit_count(xor(sig_a, sig_b)) <= 1, which the small
    * oracle instance can afford to evaluate all-pairs. */
  private val q29Sql = {
    def dotSql(p: Int): String =
      (0 until 64).map(d => s"v[${d + 1}]*(${planeCoef(p, d)})").mkString(" + ")
    val sigSql = (0 until Planes)
      .map(p => s"(CASE WHEN ${dotSql(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v, $sigSql AS s FROM e),
       |cand AS (SELECT a.vec_id AS i, a.v AS va, b.vec_id AS j, b.v AS vb
       |         FROM sig a JOIN sig b
       |           ON a.vec_id < b.vec_id AND bit_count(xor(a.s, b.s)) <= 1)
       |SELECT i AS doc_a, j AS doc_b, ROUND(list_cosine_similarity(va, vb), 3) AS sim
       |FROM cand WHERE ROUND(list_cosine_similarity(va, vb), 3) >= $DupThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val LabelKnnMod = 10L

  /** q67 — kNN label-consistency audit (mislabeled-sample detection, the
    * label-noise sweep a curation pipeline runs before training): for each
    * audited vector, retrieve its K approximate neighbors through the same
    * batch-IVF pipeline as q61 and count how many carry the same label; a
    * vector whose neighborhood majority disagrees is flagged. Cost is the
    * q61 retrieval plus one broadcast-sized label join — the label
    * comparison adds nothing corpus-scale. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = t(s, dir, "embeddings").select($"vec_id", $"label")
    val nn = batchAnnTopK(s, dir, LabelKnnMod)
    nn.join(labels.withColumnRenamed("label", "n_label"), "vec_id")
      .join(labels.select($"vec_id".as("query_id"), $"label".as("q_label")), "query_id")
      .groupBy($"query_id", $"q_label")
      .agg(sum(when($"n_label" === $"q_label", 1L).otherwise(0L)).as("n_same"),
        count(lit(1)).as("n_nbrs"))
      .select($"query_id", $"q_label",
        $"n_same".cast("long").as("n_same"), $"n_nbrs".cast("long").as("n_nbrs"),
        ($"n_same" * 2 < $"n_nbrs").as("flagged"))
      .orderBy($"query_id")
  }

  private val q67Sql =
    s"""${batchAnnCtes(LabelKnnMod)},
       |nn AS (SELECT query_id, vec_id FROM top WHERE rank <= $K),
       |j AS (SELECT nn.query_id, eq.label AS q_label,
       |        CASE WHEN en.label = eq.label THEN 1 ELSE 0 END AS same
       |      FROM nn JOIN e en ON en.vec_id = nn.vec_id
       |              JOIN e eq ON eq.vec_id = nn.query_id)
       |SELECT query_id, q_label,
       |  CAST(SUM(same) AS BIGINT) AS n_same,
       |  CAST(COUNT(*) AS BIGINT) AS n_nbrs,
       |  SUM(same) * 2 < COUNT(*) AS flagged
       |FROM j GROUP BY query_id, q_label ORDER BY query_id""".stripMargin

  val OutliersPerLabel = 3

  /** q69 — label-centroid outlier audit over the int8-quantized corpus:
    * for each label, the [[OutliersPerLabel]] vectors with the lowest
    * cosine to their label's centroid (the "weird examples under this
    * label" list a curation UI shows next to q67's neighborhood vote).
    *
    * Runs entirely on the q62 quantized form — the representation a
    * 100 TB embedding corpus actually ships — and that choice is also
    * what makes it exactly oracle-able: centroid components, dot
    * products, and norms are INTEGER sums (order-independent, no FP
    * accumulation drift), cosine is then three IEEE-exact ops on exact
    * longs < 2⁵³. Cosine is scale-invariant, so the unnormalized integer
    * component-sum serves as the centroid direction — no division, no
    * decimal means. Plan: one posexplode + two keyed aggregations + a
    * (label, pos) join — dimension count (64) bounds the fan-out, and
    * the per-label top-k window sorts each label's own vectors only. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comp = quantized(s, dir)
      .select($"vec_id", $"label", posexplode($"qs"))
      .toDF("vec_id", "label", "pos", "qi")
    // labels × 64 rows and labels rows respectively — label-cardinality-
    // bounded at ANY corpus size, so broadcast is declared, not left to
    // AQE statistics; the corpus-sized comp relation is never shuffled
    // for the dot product
    val cent = comp.groupBy($"label", $"pos").agg(sum($"qi").as("ci"))
    val cnorm = cent.groupBy($"label").agg(sum($"ci" * $"ci").as("cn2"))
    val dots = comp.join(broadcast(cent), Seq("label", "pos"))
      .groupBy($"vec_id", $"label")
      .agg(sum($"qi" * $"ci").as("dot"), sum($"qi" * $"qi").as("vn2"))
    val scored = dots.join(broadcast(cnorm), "label")
      .filter($"vn2" > 0L && $"cn2" > 0L) // zero vectors have no direction
      .withColumn("cos_sim", $"dot".cast("double") /
        (sqrt($"vn2".cast("double")) * sqrt($"cn2".cast("double"))))
    val w = Window.partitionBy($"label").orderBy($"cos_sim", $"vec_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= OutliersPerLabel)
      .select($"label", $"rank", $"vec_id", $"dot", $"cos_sim")
      .orderBy($"label", $"rank")
  }

  private val q69Sql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sc AS (SELECT vec_id, label, v,
       |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
       |comp AS (SELECT vec_id, label, i - 1 AS pos,
       |    CASE WHEN scale = 0 THEN 0 ELSE CAST(FLOOR(v[i] / scale + 0.5) AS BIGINT) END AS qi
       |  FROM sc, range(1, 65) t(i)),
       |cent AS (SELECT label, pos, CAST(SUM(qi) AS BIGINT) AS ci FROM comp GROUP BY label, pos),
       |cn AS (SELECT label, CAST(SUM(ci * ci) AS BIGINT) AS cn2 FROM cent GROUP BY label),
       |d AS (SELECT c.vec_id, c.label, CAST(SUM(c.qi * ct.ci) AS BIGINT) AS dot,
       |        CAST(SUM(c.qi * c.qi) AS BIGINT) AS vn2
       |      FROM comp c JOIN cent ct ON ct.label = c.label AND ct.pos = c.pos
       |      GROUP BY c.vec_id, c.label),
       |scored AS (SELECT d.label, d.vec_id, d.dot,
       |        CAST(d.dot AS DOUBLE) / (sqrt(CAST(d.vn2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS cos_sim
       |      FROM d JOIN cn USING (label) WHERE d.vn2 > 0 AND cn.cn2 > 0),
       |r AS (SELECT label, vec_id, dot, cos_sim,
       |        ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos_sim, vec_id) AS rank
       |      FROM scored)
       |SELECT label, rank, vec_id, dot, cos_sim FROM r WHERE rank <= $OutliersPerLabel
       |ORDER BY label, rank""".stripMargin

  /** int8 candidates surviving to the exact rerank, per query. */
  val RerankFactor = 4

  /** q78 — QUANTIZED retrieval: the memory-bound ANN serving layout. The
    * IVF candidate scan runs on the int8 form (q62's quantization — the
    * representation a 100 TB embedding corpus actually keeps hot), scoring
    * candidates with INTEGER dot products; only the top
    * [[RerankFactor]]·K int8 candidates per query touch the full-precision
    * vectors for the exact rerank. At scale this divides candidate-scan
    * bytes by 8 (int8 vs double) and bounds float work to R rows/query.
    *
    * Exactness: the int8 ranking score is the signed squared cosine
    * d·|d| / (‖a‖²·‖b‖²) — three exact integer sums and one IEEE divide,
    * no sqrt — so the candidate ranking is bit-identical on both engines;
    * the final sim is the same rounded float cosine q61 emits, making the
    * two retrieval paths directly comparable (PipelineSpec asserts
    * high overlap and identical sims on shared hits). */
  /** (vec_id, cell, qs, qnorm) — the int8 serving index: trained-cell
    * assignment + codes + self-norm (the float vec is NOT carried),
    * materialized once per (session, SF) exactly like q86's pq-index and
    * q28's persisted IVF directory. The corpus argmax scan + vec_id join
    * is a pure function of the snapshot that q78 re-paid per warm run
    * and q129 re-derived per run behind a localCheckpoint; both now scan
    * this one columnar relation (the bench's cold lane pays the build
    * visibly). */
  private def int8Index(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.store.Materialized.relation(s, s"int8-index:$dir") {
      val qz = quantized(s, dir)
        .withColumn("qnorm", longDot($"qs", $"qs"))
        .select($"vec_id", $"qs", $"qnorm")
      assignToCentroids(embeddings(s, dir), trainedCentroids(s, dir))
        .select($"vec_id", $"cell")
        .join(qz, "vec_id")
    }
  }

  private def q78(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, dir)
    val cents = trainedCentroids(s, dir)
    val qz = quantized(s, dir)
      .withColumn("qnorm", longDot($"qs", $"qs"))
      .select($"vec_id", $"qs", $"qnorm")
    val idx8 = int8Index(s, dir)
    // probe-cell selection identical to q61 (queries are full-precision)
    val probed = emb.filter($"vec_id" % BatchQueryMod === 0L)
      .withColumn("cs", centStructs(cents))
      .select($"vec_id".as("query_id"), $"vec".as("qvec"),
        slice(array_sort(transform($"cs",
          c => struct((-cosine($"vec", c("vec"))).as("negsim"), c("vec_id").as("cell")))),
          1, NProbe).as("cells"))
      .select($"query_id", $"qvec", explode($"cells.cell").as("cell"))
      .join(qz.select($"vec_id".as("query_id"), $"qs".as("q_qs"),
        $"qnorm".as("q_qnorm")), "query_id")
    // int8 scan: one equi-join on the cell, integer dot per candidate.
    // |d| ≤ 64·127² ≈ 1.0e6, so d·|d| and the norm product stay ≤ ~1.1e12
    // — exact in long AND in double, which is what makes the score a
    // deterministic cross-engine rational
    val cand8 = probed.join(idx8, "cell")
      .filter($"vec_id" =!= $"query_id")
      .withColumn("d", longDot($"qs", $"q_qs"))
      .withColumn("score8",
        when($"qnorm" === 0L || $"q_qnorm" === 0L, lit(-2.0))
          .otherwise(($"d" * abs($"d")).cast("double") /
            ($"qnorm" * $"q_qnorm").cast("double")))
    val w8 = Window.partitionBy($"query_id").orderBy($"score8".desc, $"vec_id")
    val survivors = cand8.withColumn("r8", row_number().over(w8))
      .filter($"r8" <= K * RerankFactor)
      .select($"query_id", $"qvec", $"vec_id")
    // exact float rerank touches ONLY the survivors
    val reranked = survivors.join(emb, "vec_id")
      .select($"query_id", $"vec_id", round(cosine($"vec", $"qvec"), 3).as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
    reranked.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"rank", $"vec_id", $"sim")
      .orderBy($"query_id", $"rank")
  }

  private val q78Sql =
    s"""${batchAnnCtes(BatchQueryMod)},
       |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
       |qz AS (SELECT vec_id, list_transform(v, x ->
       |    CASE WHEN scale = 0 THEN 0 ELSE CAST(FLOOR(x / scale + 0.5) AS BIGINT) END) AS qs
       |  FROM sc),
       |qn AS (SELECT vec_id, qs,
       |    CAST(list_sum(list_transform(qs, x -> x * x)) AS BIGINT) AS qnorm FROM qz),
       |cand8 AS (SELECT qc.query_id, a.vec_id, qc.qv,
       |    CAST(list_sum([iq.qs[i] * qq.qs[i] for i in range(1, len(iq.qs) + 1)]) AS BIGINT) AS d,
       |    iq.qnorm AS anorm, qq.qnorm AS qn2
       |  FROM qcells qc JOIN assign a ON a.cell = qc.cell
       |  JOIN qn iq ON iq.vec_id = a.vec_id
       |  JOIN qn qq ON qq.vec_id = qc.query_id
       |  WHERE a.vec_id <> qc.query_id),
       |sc8 AS (SELECT query_id, vec_id, qv,
       |    CASE WHEN anorm = 0 OR qn2 = 0 THEN -2.0
       |         ELSE CAST(d * ABS(d) AS DOUBLE) / CAST(anorm * qn2 AS DOUBLE) END AS score8
       |  FROM cand8),
       |surv AS (SELECT query_id, vec_id, qv FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score8 DESC, vec_id) AS r8 FROM sc8)
       |  WHERE r8 <= ${K * RerankFactor}),
       |rr AS (SELECT s.query_id, s.vec_id,
       |    ROUND(list_cosine_similarity(e.v, s.qv), 3) AS sim
       |  FROM surv s JOIN e ON e.vec_id = s.vec_id),
       |final AS (SELECT query_id, vec_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM rr)
       |SELECT query_id, rank, vec_id, sim FROM final WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  // ── Product quantization: IVF-PQ with integer ADC (q86) ─────────────

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims (64-dim vectors),
    * [[PqKs]] codes per subspace — 8 half-byte codes per vector, an 8×
    * compression over the int8 codes q78 scans and 32× over float32.
    * [[PqIters]] Lloyd rounds per subspace; training samples the same
    * [[TrainSampleMod]] slice the IVF training uses. */
  val PqM = 8
  val PqSubDim = 8
  val PqKs = 16
  val PqIters = 2

  /** Literal codebook for one subspace: array<array<long>> ordered by
    * code id (k·subdim ints — embedded like [[centStructs]], no shuffle,
    * no broadcast needed). */
  private def bookLit(book: Seq[Seq[Long]]): Column =
    typedLit(book) // one literal node, not PqKs·PqSubDim of them (see centStructs)

  private def subVec(qs: Column, m: Int): Column =
    slice(qs, m * PqSubDim + 1, PqSubDim)

  /** 0-based argmin-squared-L2 code of `sub` against `book`; exact
    * integer distances, ties to the smallest code id (array_position
    * returns the FIRST index of the minimum and the literal array is
    * ordered by code). */
  private def argminCode(sub: Column, book: Seq[Seq[Long]]): Column = {
    val dists = transform(bookLit(book), c => longSqDist(sub, c))
    (array_position(dists, array_min(dists)) - 1L).cast("int")
  }

  /** PQ codebook training in EXACT integer arithmetic — the
    * [[trainCentroids]] discipline applied per subspace, which is what
    * lets even the PQ index keep a DuckDB oracle. Sub-vectors are the
    * int8 codes sliced into [[PqM]] blocks; seeds are the first [[PqKs]]
    * SAMPLE vectors' blocks; each Lloyd round assigns every sample block
    * to its argmin-L2 centroid (distances are integer sums — no float
    * anywhere) and re-centers each cell on the FLOOR-DIVIDED componentwise
    * integer mean. Unlike the cosine case, L2 assignment is not
    * scale-invariant, so the unnormalized-sum trick is out — the floored
    * mean is the deterministic integer stand-in for the true mean (off by
    * < 1 ulp of the lattice per component), computed identically by
    * `Math.floorDiv` here and a pmod identity in the oracle SQL. Empty
    * cells keep their previous centroid. A round costs one scan of the
    * sample (the assignment is a zero-shuffle literal-codebook
    * projection) plus a PqM·PqKs·PqSubDim-row aggregate — independent of
    * corpus size, the train-on-a-sample split a 100 TB run takes. */
  def trainPqBooks(emb: DataFrame, iters: Int = PqIters): Seq[Seq[Seq[Long]]] = {
    import emb.sparkSession.implicits._
    val sample = int8Codes(emb).filter($"vec_id" % TrainSampleMod === 0L).cache()
    val seedRows = sample.orderBy($"vec_id").limit(PqKs).collect()
    var books: Seq[Seq[Seq[Long]]] = (0 until PqM).map { m =>
      seedRows.map(_.getSeq[Long](1).slice(m * PqSubDim, (m + 1) * PqSubDim).toSeq).toSeq
    }
    for (_ <- 0 until iters) {
      val perSub = array((0 until PqM).map { m =>
        struct(lit(m).as("m"), argminCode(subVec($"qs", m), books(m)).as("code"),
          subVec($"qs", m).as("sub"))
      }: _*)
      val sums = sample.select(explode(perSub).as("a"))
        .select($"a.m", $"a.code", posexplode($"a.sub"))
        .toDF("m", "code", "pos", "x")
        .groupBy($"m", $"code", $"pos")
        .agg(sum($"x").as("fs"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = (0 until PqM).map { m =>
        (0 until PqKs).map { c =>
          byCell.get((m, c)) match {
            case Some(rows) =>
              val arr = new Array[Long](PqSubDim)
              val n = rows.head.getLong(4)
              rows.foreach(r => arr(r.getInt(2)) = Math.floorDiv(r.getLong(3), n))
              arr.toSeq
            case None => books(m)(c)
          }
        }
      }
    }
    sample.unpersist()
    books
  }

  // one trained PQ codebook set per (session, sf dir), like trainedCache
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Seq[Seq[Seq[Long]]]]

  def pqBooks(s: SparkSession, dir: String): Seq[Seq[Seq[Long]]] = {
    val books = pqCache.getOrElseUpdate((s, dir), trainPqBooks(embeddings(s, dir)))
    graft.store.CorpusCaches.retain(s, dir, "sim:pqbooks")(
      () => { pqCache.remove((s, dir)); () })
    books
  }

  /** (vec_id, pq): the M 0-based codes per vector — one zero-shuffle
    * projection against the literal codebooks. */
  def pqEncode(codes: DataFrame, books: Seq[Seq[Seq[Long]]]): DataFrame = {
    import codes.sparkSession.implicits._
    codes.select($"vec_id",
      array((0 until PqM).map(m => argminCode(subVec($"qs", m), books(m))): _*).as("pq"))
  }

  /** Mean squared reconstruction error of the int8 corpus under `books`
    * — the PQ training objective; the spec asserts training does not
    * degrade it vs the seeds. Exact integer sum, divided once. */
  def pqDistortion(emb: DataFrame, books: Seq[Seq[Seq[Long]]]): Double = {
    import emb.sparkSession.implicits._
    val errs = (0 until PqM).map { m =>
      val sub = subVec($"qs", m)
      val cv = element_at(bookLit(books(m)), argminCode(sub, books(m)) + 1)
      longSqDist(sub, cv)
    }.reduce(_ + _)
    val r = int8Codes(emb).select(errs.as("e")).agg(sum($"e"), count(lit(1))).head()
    r.getLong(0).toDouble / r.getLong(1)
  }

  /** q86 — IVF-PQ retrieval with integer ADC: the end-state 100 TB
    * serving layout one notch past q78. The hot index carries, per
    * vector, its IVF cell and [[PqM]] 4-bit codes (8× smaller than q78's
    * int8 scan, 32× smaller than float32); candidates in probed cells
    * are scored by table lookups into the literal codebooks — the
    * query's int8 sub-vectors dotted against each candidate's
    * RECONSTRUCTED sub-centroids, all-integer and order-free, so the
    * approximate score is a deterministic cross-engine rational (|d| ≤
    * 64·127² — d·|d| and the norm product stay ≈1e12, exact in long and
    * double alike; the reconstruction norm Σ‖c‖² plays q78's candidate
    * norm). Exact float cosine then reranks only the
    * [[K]]·[[RerankFactor]] ADC survivors — the same
    * approximate-scan/exact-rerank split, with a 16-entry-per-subspace
    * distance table standing in for the full int8 dot. */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, dir)
    val cents = trainedCentroids(s, dir)
    val books = pqBooks(s, dir)
    val qz = quantized(s, dir)
      .withColumn("qnorm", longDot($"qs", $"qs"))
      .select($"vec_id", $"qs", $"qnorm")
    // the PQ index relation (vec_id, cell, 8 codes) is materialized once
    // per (session, SF) — encoding on the fly would re-read the wide
    // int8 codes per query and forfeit the small-scan promise; served
    // from the prepare-stage store, the candidate scan reads ONLY the
    // code relation (the bench's cold lane pays the build visibly)
    val idx = graft.store.Materialized.relation(s, s"pq-index:$dir") {
      assignToCentroids(emb, cents).select($"vec_id", $"cell")
        .join(pqEncode(int8Codes(emb), books), "vec_id")
    }
    val probed = emb.filter($"vec_id" % BatchQueryMod === 0L)
      .withColumn("cs", centStructs(cents))
      .select($"vec_id".as("query_id"), $"vec".as("qvec"),
        slice(array_sort(transform($"cs",
          c => struct((-cosine($"vec", c("vec"))).as("negsim"), c("vec_id").as("cell")))),
          1, NProbe).as("cells"))
      .select($"query_id", $"qvec", explode($"cells.cell").as("cell"))
      .join(qz.select($"vec_id".as("query_id"), $"qs".as("q_qs"),
        $"qnorm".as("q_qnorm")), "query_id")
    val d = (0 until PqM).map { m =>
      longDot(subVec($"q_qs", m),
        element_at(bookLit(books(m)), element_at($"pq", m + 1) + 1))
    }.reduce(_ + _)
    val pnorm = (0 until PqM).map { m =>
      element_at(typedLit(books(m).map(cv => cv.map(x => x * x).sum)),
        element_at($"pq", m + 1) + 1)
    }.reduce(_ + _)
    val cand = probed.join(idx, "cell")
      .filter($"vec_id" =!= $"query_id")
      .withColumn("d", d)
      .withColumn("pnorm", pnorm)
      .withColumn("spq",
        when($"pnorm" === 0L || $"q_qnorm" === 0L, lit(-2.0))
          .otherwise(($"d" * abs($"d")).cast("double") /
            ($"pnorm" * $"q_qnorm").cast("double")))
    val w8 = Window.partitionBy($"query_id").orderBy($"spq".desc, $"vec_id")
    val survivors = cand.withColumn("r8", row_number().over(w8))
      .filter($"r8" <= K * RerankFactor)
      .select($"query_id", $"qvec", $"vec_id")
    val reranked = survivors.join(emb, "vec_id")
      .select($"query_id", $"vec_id", round(cosine($"vec", $"qvec"), 3).as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
    reranked.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"rank", $"vec_id", $"sim")
      .orderBy($"query_id", $"rank")
  }

  /** Oracle: PQ training unrolled per round (all subspaces at once, keyed
    * by m), floored integer means via the pmod identity
    * (fs − ((fs % n + n) % n)) // n ≡ Math.floorDiv, then encode + ADC +
    * rerank mirroring the Spark plan; builds on [[batchAnnCtes]] for the
    * trained-IVF assignment and probe cells. */
  private val q86Sql = {
    val rounds = (1 to PqIters).map { r =>
      s"""pqd$r AS MATERIALIZED (SELECT sm.vec_id, sm.m, b.code,
         |    CAST(list_sum([(sm.sub[i] - b.cv[i]) * (sm.sub[i] - b.cv[i])
         |      for i in range(1, ${PqSubDim + 1})]) AS BIGINT) AS dist
         |  FROM pqsamp sm JOIN pqb${r - 1} b ON b.m = sm.m),
         |pqa$r AS (SELECT vec_id, m, code FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
         |    FROM pqd$r) WHERE rn = 1),
         |pqs$r AS (SELECT a.m, a.code, i.i AS pos,
         |    CAST(SUM(sm.sub[i.i]) AS BIGINT) AS fs, COUNT(*) AS n
         |  FROM pqa$r a JOIN pqsamp sm ON sm.vec_id = a.vec_id AND sm.m = a.m
         |  CROSS JOIN (SELECT unnest(range(1, ${PqSubDim + 1})) AS i) i
         |  GROUP BY a.m, a.code, i.i),
         |pqb$r AS MATERIALIZED (SELECT p.m, p.code, COALESCE(nw.cv, p.cv) AS cv
         |  FROM pqb${r - 1} p LEFT JOIN (
         |    SELECT m, code, list(((fs - ((fs % n + n) % n)) // n) ORDER BY pos) AS cv
         |    FROM pqs$r GROUP BY m, code) nw ON nw.m = p.m AND nw.code = p.code)""".stripMargin
    }.mkString(",\n")
    s"""${batchAnnCtes(BatchQueryMod)},
       |pqz AS (SELECT vec_id, list_transform(v, x ->
       |    CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(FLOOR(x / scale + 0.5) AS BIGINT) END) AS qs
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e)),
       |pqn AS (SELECT vec_id, CAST(list_sum(list_transform(qs, x -> x * x)) AS BIGINT) AS qnorm FROM pqz),
       |pqsub AS MATERIALIZED (SELECT vec_id, t.m,
       |    qs[t.m * $PqSubDim + 1 : (t.m + 1) * $PqSubDim] AS sub
       |  FROM pqz CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) t),
       |pqsamp AS MATERIALIZED (SELECT * FROM pqsub WHERE vec_id % $TrainSampleMod = 0),
       |pqsv AS (SELECT vec_id FROM pqz WHERE vec_id % $TrainSampleMod = 0
       |  ORDER BY vec_id LIMIT $PqKs),
       |pqb0 AS (SELECT s.m,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.m ORDER BY s.vec_id) - 1 AS INTEGER) AS code,
       |    s.sub AS cv
       |  FROM pqsamp s JOIN pqsv ON pqsv.vec_id = s.vec_id),
       |$rounds,
       |pqenc AS MATERIALIZED (SELECT vec_id, m, code FROM (
       |    SELECT d.vec_id, d.m, d.code,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m ORDER BY d.dist, d.code) AS rn
       |    FROM (SELECT sb.vec_id, sb.m, b.code,
       |        CAST(list_sum([(sb.sub[i] - b.cv[i]) * (sb.sub[i] - b.cv[i])
       |          for i in range(1, ${PqSubDim + 1})]) AS BIGINT) AS dist
       |      FROM pqsub sb JOIN pqb$PqIters b ON b.m = sb.m) d) WHERE rn = 1),
       |pqbn AS (SELECT m, code,
       |    CAST(list_sum([cv[i] * cv[i] for i in range(1, ${PqSubDim + 1})]) AS BIGINT) AS nrm
       |  FROM pqb$PqIters),
       |pqpm AS (SELECT qc.query_id, av.vec_id, en.m,
       |    CAST(list_sum([qs.sub[i] * b.cv[i] for i in range(1, ${PqSubDim + 1})]) AS BIGINT) AS dm,
       |    bn.nrm AS nm
       |  FROM qcells qc JOIN assign av ON av.cell = qc.cell
       |  JOIN pqenc en ON en.vec_id = av.vec_id
       |  JOIN pqb$PqIters b ON b.m = en.m AND b.code = en.code
       |  JOIN pqbn bn ON bn.m = en.m AND bn.code = en.code
       |  JOIN pqsub qs ON qs.vec_id = qc.query_id AND qs.m = en.m
       |  WHERE av.vec_id <> qc.query_id),
       |pqdd AS (SELECT query_id, vec_id,
       |    CAST(SUM(dm) AS BIGINT) AS d, CAST(SUM(nm) AS BIGINT) AS pnorm
       |  FROM pqpm GROUP BY query_id, vec_id),
       |pqsc AS (SELECT dd.query_id, dd.vec_id,
       |    CASE WHEN dd.pnorm = 0 OR qn.qnorm = 0 THEN -2.0
       |         ELSE CAST(dd.d * ABS(dd.d) AS DOUBLE) / CAST(dd.pnorm * qn.qnorm AS DOUBLE)
       |    END AS spq
       |  FROM pqdd dd JOIN pqn qn ON qn.vec_id = dd.query_id),
       |pqsurv AS (SELECT query_id, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY spq DESC, vec_id) AS r8
       |    FROM pqsc) WHERE r8 <= ${K * RerankFactor}),
       |pqrr AS (SELECT s.query_id, s.vec_id,
       |    ROUND(list_cosine_similarity(ev.v, eq.v), 3) AS sim
       |  FROM pqsurv s JOIN e ev ON ev.vec_id = s.vec_id JOIN e eq ON eq.vec_id = s.query_id),
       |pqfinal AS (SELECT query_id, vec_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM pqrr)
       |SELECT query_id, rank, vec_id, sim FROM pqfinal WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q109 — k-means cluster summary over the embedding corpus: the
    * user-facing CLUSTERING operator of the similarity family (semantic
    * bucketing for domain mixing and cluster-balanced sampling — the
    * training-data step that needs the clusters THEMSELVES, where
    * q28/q61/q78/q86 use them only as retrieval cells). Serves from the
    * same [[trainedCentroids]] set every retrieval query shares. One row
    * per cluster: member count, representative (minimum) member id, and
    * the EXACT integer within-cluster inertia over the int8-quantized
    * codes (q62's representation): per (cluster, dim) the floored-mean
    * center c = floorDiv(Σx, n) (the q86 pmod identity), contributing
    * Σx² − 2·c·Σx + n·c² — the algebraic expansion of Σ(x − c)² — so the
    * whole statistic needs ONE aggregation pass carrying (Σx, Σx², n)
    * with no member↔center rejoin, and is an exact order-independent
    * integer (hash-oracle-able, the q90 discipline).
    *
    * Scale shape: ONE corpus scan and ZERO joins — assignment and
    * quantization ride one projection (the first cut joined `assigned` to
    * `int8Codes(emb)` on vec_id: a corpus×corpus join of two per-row
    * functions of the same scan, broadcastable only at toy scale —
    * caught in the plan audit), the sizes ride the per-(cell, dim)
    * aggregate (min vec_id per dim; member count = the per-dim count,
    * every corpus vector carrying all dims — the same fixed-dim premise
    * the 64-dim oracle already hardcodes, and the per-cell aggregate now
    * RAISES if any dim's count disagrees, so a short/ragged vector array
    * fails loudly instead of silently under-counting), so the one shuffle
    * moves ≤ k·dim·partitions partial rows — independent of corpus size —
    * and everything after operates on k-row frames.
    *
    * EVERY trained cluster emits a row, including empty ones — a centroid
    * with zero assigned members appears as (cluster, 0, NULL, 0), via a
    * left join from the k-row trained-centroid set (a cluster-balanced-
    * sampling consumer must be able to tell an empty cluster from a
    * nonexistent one; both engines emit the same k rows). */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, dir)
    val cents = trainedCentroids(s, dir)
    val perDim = withInt8Codes(assignToCentroids(emb, cents))
      .select($"cell", $"vec_id", posexplode($"qs"))
      .toDF("cell", "vec_id", "pos", "x")
      .groupBy($"cell", $"pos")
      .agg(sum($"x").as("s1"), sum($"x" * $"x").as("s2"),
        count(lit(1)).as("n"), min($"vec_id").as("mid"))
    val summary = perDim
      // floorDiv(s1, n) for possibly-negative sums: pmod is the
      // non-negative remainder in both engines, so s1 − pmod(s1, n) is
      // exactly divisible and `div` is exact — no floating point anywhere
      .withColumn("c", expr("(s1 - pmod(s1, n)) div n"))
      .withColumn("contrib", $"s2" - lit(2L) * $"c" * $"s1" + $"n" * $"c" * $"c")
      .groupBy($"cell")
      .agg(max($"n").as("n_max"), min($"n").as("n_min"),
        min($"mid").as("rep_vec_id"), sum($"contrib").as("inertia"))
      // fixed-dim premise guard: every member carries all dims, so the
      // per-dim counts within a cell must agree — a ragged corpus raises
      // here (k rows, so the guard costs nothing)
      .select($"cell",
        when($"n_min" =!= $"n_max",
            raise_error(concat(lit("q109: ragged vector arrays in cell "), $"cell".cast("string"))))
          .otherwise($"n_max").as("n_members"),
        $"rep_vec_id", $"inertia")
    cents.map(_._1).sorted.toDF("cluster")
      .join(summary.withColumnRenamed("cell", "cluster"), Seq("cluster"), "left")
      .select($"cluster", coalesce($"n_members", lit(0L)).as("n_members"),
        $"rep_vec_id", coalesce($"inertia", lit(0L)).as("inertia"))
      .orderBy($"cluster")
  }

  /** Oracle: the identical pipeline over [[batchAnnCtes]]' full-corpus
    * `assign` relation — per-(cluster, dim) integer sums over the same
    * int8 codes (t_qz), the pmod floored-mean identity (≡ floorDiv), and
    * the same algebraic inertia. The dim index bases differ between the
    * engines (posexplode 0-based, range(1, 65) 1-based) but the position
    * is only an intra-engine grouping key — it never reaches the output.
    * The outer left join from the trained-centroid relation `c` mirrors
    * the Spark side's every-cluster contract: empty cells emit
    * (cluster, 0, NULL, 0). */
  private val q109Sql =
    s"""${batchAnnCtes(BatchQueryMod)},
       |acq AS (SELECT a.cell, a.vec_id, q.qs FROM assign a JOIN t_qz q USING (vec_id)),
       |kdims AS (SELECT cell, vec_id, j AS pos, CAST(qs[j] AS BIGINT) AS x
       |  FROM acq, range(1, 65) t(j)),
       |kperdim AS (SELECT cell, pos, CAST(SUM(x) AS BIGINT) AS s1,
       |    CAST(SUM(x*x) AS BIGINT) AS s2, CAST(COUNT(*) AS BIGINT) AS n,
       |    MIN(vec_id) AS mid
       |  FROM kdims GROUP BY cell, pos),
       |kcdim AS (SELECT cell, s1, s2, n, mid,
       |    (s1 - ((s1 % n + n) % n)) // n AS c FROM kperdim),
       |ksum AS (SELECT cell, CAST(MAX(n) AS BIGINT) AS n_members,
       |    MIN(mid) AS rep_vec_id,
       |    CAST(SUM(s2 - 2*c*s1 + n*c*c) AS BIGINT) AS inertia
       |  FROM kcdim GROUP BY cell)
       |SELECT c.cent_id AS cluster,
       |  COALESCE(k.n_members, CAST(0 AS BIGINT)) AS n_members,
       |  k.rep_vec_id AS rep_vec_id,
       |  COALESCE(k.inertia, CAST(0 AS BIGINT)) AS inertia
       |FROM c LEFT JOIN ksum k ON k.cell = c.cent_id
       |ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------------
  // q136 — cluster-balanced sampling (the D4 diversification step,
  // Tirumala et al. 2023, arXiv:2308.12284): admit up to ClusterQuota
  // members per SEMANTIC cluster in deterministic hash order — the
  // diversity-sampling primitive that keeps a training mix from being
  // dominated by its largest semantic modes, composing the similarity
  // family's trained cells (q109's strata) with the sampling family's
  // deterministic-hash quota discipline (q51's machinery verbatim:
  // BottomK bounded aggregate, O(quota) partials, never a corpus window
  // sort; md5 Oracle hash on the gated row, xxhash64 in production).
  // One hash exchange on the cell id; at production k (cells sized
  // O(corpus/k) — the SemDeDup contract) the key is high-cardinality.
  // ---------------------------------------------------------------------

  /** Members admitted per semantic cluster. */
  val ClusterQuota = 20

  /** (cell, rk, vec_id) — up to `quota` members per trained cell in
    * ascending hash64(vec_id) order (rank 1 = the cell's first pick). */
  def clusterBalancedSample(emb: DataFrame, cents: Seq[(Long, Seq[Double])],
      quota: Int, family: graft.functions.HashFamily): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    assignToCentroids(emb, cents)
      .select($"cell", $"vec_id",
        family.hash63($"vec_id".cast("string")).as("hkey"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._3, r._2)) // (hash, vec_id) ascending
      .agg(graft.functions.BottomK(quota).toColumn)
      .flatMap { case (cell, picks) =>
        picks.zipWithIndex.map { case ((_, id), i) => (cell, i + 1, id) }
      }
      .toDF("cell", "rk", "vec_id")
      .orderBy($"cell", $"rk")
  }

  private def q136(s: SparkSession, dir: String): DataFrame =
    clusterBalancedSample(embeddings(s, dir), trainedCentroids(s, dir),
      ClusterQuota, graft.functions.HashFamily.Oracle)

  private val q136Sql = {
    val h = Dedup.hash63Sql("CAST(vec_id AS VARCHAR)")
    s"""${batchAnnCtes(BatchQueryMod)}
       |SELECT cell, rk, vec_id FROM (
       |  SELECT cell, vec_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cell ORDER BY $h, vec_id) AS INTEGER) AS rk
       |  FROM assign)
       |WHERE rk <= $ClusterQuota ORDER BY cell, rk""".stripMargin
  }

  /** q129's semantic-duplicate cosine floor, as a rational τ = 3/10 so the
    * pair test is pure integer arithmetic (see [[intDupCond]]). Matches
    * [[DupThreshold]] — the synthetic corpus' near-orthogonal vectors make a
    * production-style 0.98 floor return the empty set (same note as q29). */
  val SemDedupNum = 3L
  val SemDedupDen = 10L

  /** Integer-exact "cos(a, b) ≥ τ" over int8 code pairs: with d = <a,b>,
    * na = <a,a>, nb = <b,b> and τ = num/den ≥ 0,
    *   cos ≥ τ  ⟺  d ≥ 0  ∧  den²·d² ≥ num²·na·nb
    * (both sides exact integers: |d| ≤ 64·127² ≈ 1.04e6, so den²·d² ≤
    * 1.1e14 and num²·na·nb ≤ 9.6e12 — far inside Long AND inside 2⁵³, so
    * the same comparison is exact in DuckDB even if a HUGEINT/DOUBLE path
    * intervenes). Zero vectors (na = 0 or nb = 0) have no cosine and are
    * excluded explicitly — without the guard an all-zero code would
    * "duplicate" its whole cell (0 ≥ 0). */
  private[graft] def intDupCond(dot: Column, na: Column, nb: Column): Column =
    na > 0L && nb > 0L && dot >= 0L &&
      lit(SemDedupDen * SemDedupDen) * dot * dot >= lit(SemDedupNum * SemDedupNum) * na * nb

  /** q129 — SemDeDup: SEMANTIC deduplication over the embedding corpus
    * (Abbas et al. 2023, arXiv:2303.09540 — "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"). Where
    * q23–q26 deduplicate on TEXT content, SemDeDup removes documents that
    * say the same thing in different words: cluster the corpus'
    * embeddings, compare pairs only WITHIN a cluster, and drop every
    * member that is τ-close to a lower-id member (the greedy min-id
    * exemplar rule — the paper keeps one exemplar per ε-group; "survives
    * unless a lower id is τ-close" is the deterministic, oracle-able
    * variant, and like the paper's it can prune a chain a—b—c whose ends
    * never compared). Output is the REMOVED set: one row per dropped
    * member with its cell, the minimum lower duplicate (dup_of) and how
    * many lower-id duplicates witnessed it (n_dups).
    *
    * Exactness: clustering is the shared [[trainedCentroids]] set (exact
    * integer Lloyd, identically unrolled in the oracle's CTEs); pair
    * similarity runs on the int8 codes (q62's storage form) through the
    * all-integer [[intDupCond]], so there is no float comparison anywhere
    * a hash could diverge on — the only floats are the assignment cosines
    * both engines evaluate from identical exact inputs.
    *
    * Scale shape: assignment + quantization + self-norm ride ONE corpus
    * projection (no corpus↔corpus rejoin of two functions of the same
    * scan — the q109 audit note); candidates come from ONE equi-join on
    * the cell id, pairs exist only within a cell, and the group/aggregate
    * keys (vec_id) are high-cardinality. Pair work is Σ_cells |cell|² —
    * SemDeDup's own contract is that k grows with the corpus so |cell|
    * stays bounded (the paper runs k ≈ n/10⁴ on LAION); the registered
    * k = [[Centroids]] is the fixture scale of the shared trained set, and
    * at production k the join key is high-cardinality, so the cell
    * exchange does not funnel (the packing-family lesson). At 100 TB the
    * int8 form also cuts the shuffled candidate bytes 8× vs float64. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the assignment+quantize+norm chain is the shared [[int8Index]]
    // store (identical values: same trained centroids, same q62
    // quantization, same self-norm) — the per-run localCheckpoint this
    // replaced cut the plan for the self-join's two references, which a
    // store scan does even better: both sides are columnar scans and the
    // corpus argmax is paid once per snapshot, not once per run
    val cells = int8Index(s, dir)
      .select($"vec_id", $"cell", $"qs", $"qnorm".as("nq"))
    val a = cells.select($"vec_id".as("a_id"), $"cell",
      $"qs".as("aq"), $"nq".as("an"))
    val b = cells.select($"vec_id".as("b_id"), $"cell",
      $"qs".as("bq"), $"nq".as("bn"))
    val dup = a.join(b, Seq("cell"))
      .filter($"a_id" < $"b_id")
      .withColumn("dot", longDot($"aq", $"bq"))
      .filter(intDupCond($"dot", $"an", $"bn"))
    dup.groupBy($"b_id", $"cell")
      .agg(min($"a_id").as("dup_of"), count(lit(1)).as("n_dups"))
      .select($"b_id".as("vec_id"), $"cell", $"dup_of", $"n_dups")
      .orderBy($"vec_id")
  }

  /** Oracle: the same pipeline over [[batchAnnCtes]]' `assign` relation and
    * t_qz codes — within-cell pairs via a self-join, the pair dot as an
    * unrolled SUM over range(1, 65), and the identical all-integer τ test
    * (every operand CAST to BIGINT before multiplying so DuckDB's
    * HUGEINT/DOUBLE promotion never enters; the products fit BIGINT with
    * four orders of magnitude to spare). */
  private val q129Sql = q129SqlOn("")

  /** q129's oracle restricted to a member predicate on `a.vec_id` —
    * the SemDedup stream-serve rows oracle as q129 over the SURVIVING
    * corpus (the q110/q112 pattern): the frozen trained centroids and
    * per-row assignment are untouched by takedowns, so only the member
    * relation is filtered. */
  private[graft] def q129SqlOn(memberPred: String): String =
    s"""${batchAnnCtes(BatchQueryMod)},
       |scq AS (SELECT a.vec_id, a.cell, q.qs FROM assign a JOIN t_qz q USING (vec_id)$memberPred),
       |snq AS (SELECT vec_id, CAST(SUM(qs[j] * qs[j]) AS BIGINT) AS nq
       |  FROM scq CROSS JOIN range(1, 65) t(j) GROUP BY vec_id),
       |spd AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cell,
       |    CAST(SUM(a.qs[j] * b.qs[j]) AS BIGINT) AS dot
       |  FROM scq a JOIN scq b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  CROSS JOIN range(1, 65) t(j)
       |  GROUP BY 1, 2, 3),
       |sdup AS (SELECT p.a_id, p.b_id, p.cell
       |  FROM spd p JOIN snq na ON na.vec_id = p.a_id
       |             JOIN snq nb ON nb.vec_id = p.b_id
       |  WHERE na.nq > 0 AND nb.nq > 0 AND p.dot >= 0
       |    AND ${SemDedupDen * SemDedupDen} * p.dot * p.dot >=
       |        ${SemDedupNum * SemDedupNum} * na.nq * nb.nq)
       |SELECT b_id AS vec_id, cell, MIN(a_id) AS dup_of,
       |  CAST(COUNT(*) AS BIGINT) AS n_dups
       |FROM sdup GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("q27_ann_brute_topk", q27, Some(q27Sql), bench = true),
    GQuery("q28_ann_ivf_topk", q28, Some(q28Sql), bench = true),
    GQuery("q29_embed_dup_pairs", q29, Some(q29Sql)),
    GQuery("q61_ann_batch", q61, Some(q61Sql), bench = true),
    GQuery("q62_embed_quantize", q62, Some(q62Sql)),
    GQuery("q67_label_knn_audit", q67, Some(q67Sql)),
    GQuery("q69_label_centroid_outliers", q69, Some(q69Sql)),
    GQuery("q78_quantized_retrieval", q78, Some(q78Sql), bench = true),
    GQuery("q86_pq_retrieval", q86, Some(q86Sql), bench = true),
    // benched from r14 (verdict directive 2): its warm time is the serving
    // path; the COLD column carries the shared centroid training every
    // retrieval query amortizes (the q28/q61/q78/q86 prepare stage)
    GQuery("q109_kmeans_clusters", q109, Some(q109Sql), bench = true),
    GQuery("q129_semantic_dedup", q129, Some(q129Sql), bench = true),
    GQuery("q136_cluster_balanced_sample", q136, Some(q136Sql)),
  )
}
