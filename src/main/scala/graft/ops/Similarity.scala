package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * `bruteTopK` is the exact baseline: cosine top-k of a SMALL broadcast
  * query set against the full corpus — one scan, no shuffle of the
  * corpus. Each approximate family has ONE search path, over
  * quantizers the caller trains once ([[kmeansCentroids]],
  * [[pqCodebooks]]) and searches many times: IVF is `ivfTopKIndexed`
  * over an `assignBuckets` index (per-query work O(N·nprobe/K)),
  * sign-LSH `lshTopK`, SQ8 `sq8TopK`, PQ `pqTopK` (IVF-PQ with one
  * coarse cell), IVF-PQ `ivfpqTopKWith` / `ivfpqTopKIndexed`. Each is
  * candidates → exact rerank; [[recall]] gates any of them per query
  * against the brute twin, and [[identical]] gates two searches that
  * must agree exactly (persisted vs in-session, incremental vs
  * rebuilt).
  */
object Similarity {

  /** Cosine via the native codegen'd expression (graft_cosine) — one
    * fused primitive loop; bit-identical to the HOF
    * aggregate/zip_with formulation it replaced (see CosineSimilarity).
    */
  private def cosine(df: DataFrame): org.apache.spark.sql.Column = {
    GraftFunctions.register(df.sparkSession)
    expr("graft_cosine(qv, ev)")
  }

  /** Cosine scores of each query vector against every corpus vector. */
  private def scoreAll(queries: DataFrame, corpus: DataFrame): DataFrame =
    corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ev"))
      .crossJoin(broadcast(
        queries.select(col("vec_id").as("q_id"), col("embedding").as("qv"))))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("score", cosine(corpus))

  /** Per-query top-k of a scored frame via the bounded MAP-SIDE
    * `graft_topk` aggregate (TopKByScore) — the shape that survives
    * 100×: each input partition folds to one ≤k heap per q_id, the
    * exchange carries `partitions × |queries| × k` fixed-width entries,
    * and the per-q_id merge handles `partitions × k` rows. The windowed
    * (`row_number().over(partitionBy(q_id))`) formulation this replaced
    * shuffled EVERY scored row onto |queries| reducer tasks — one
    * full-corpus straggler per query. Ordering (score DESC, id ASC) and
    * emitted rank are identical pair for pair.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(CAST(score AS DOUBLE), neighbor_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), col("e.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("e.score").as("score"))

  /** Exact top-k per query (rank ties broken by neighbor_id). One corpus
    * scan against broadcast queries; the ranking never shuffles the
    * scored corpus (see `topKPerQuery`) — exact search stays viable as
    * the baseline even at full corpus scale.
    */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topKPerQuery(scoreAll(queries, corpus), k)

  /** Exact RANGE (radius) search — the similarity-search API's other
    * half: every corpus neighbor with cosine ≥ `tau`, per query. Where
    * top-k answers "the k nearest", range answers "everything this
    * similar" (dedup candidate pulls, recall-first retrieval). Shape:
    * the same one-corpus-scan-vs-broadcast-queries pass as
    * [[bruteTopK]], but with NO ranking state at all — the threshold
    * filter applies map-side inside the scan's codegen stage and
    * survivors stream straight out, so the op never shuffles and
    * output size is bounded by the caller's `tau`, not by corpus size.
    * Emit membership (q_id, neighbor_id); the score column is for
    * in-engine consumers — cross-engine gates should compare the
    * membership SET at a gap-protected τ (the dedup_embedding_exact
    * rule: no corpus pair may sit within float-ulp reach of the
    * threshold).
    */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
                  tau: Double): DataFrame =
    scoreAll(queries, corpus)
      .filter(col("score") >= tau)
      .select(col("q_id"), col("neighbor_id"), col("score"))

  /** IVF-pruned range search — [[rangeSearch]]'s 100 TB path: the
    * corpus lists into its `corpusProbe` nearest coarse buckets, each
    * query probes its `nprobe` nearest, and only co-bucketed pairs are
    * scored (exact cosine re-verification, so precision is structural
    * — the bucketing can only MISS neighbors, never invent them). The
    * scored mass drops from |corpus|·|queries| to the probed buckets'
    * mass; `nprobe`/`corpusProbe` are the recall levers (range recall
    * needs BOTH sides near a shared centroid — query-side probing
    * alone saturated at 9/10 on the measured testdata where
    * corpusProbe = 2 clears the 0.9 floor with margin, the
    * embeddingNearDups lesson), gated by [[rangeRecall]] exactly like
    * every centroid-dependent path here. Join shape: the query probe
    * set is K-bounded by construction and BROADCASTS to the
    * bucket-partitioned corpus — the corpus never shuffles. At these
    * toy centroid counts (16) the pruning ratio is modest; the
    * parameters scale the standard way (numCentroids ~ √N, probes
    * fixed) and the GATE, not the constant, is the channel's claim.
    */
  def ivfRangeSearch(queries: DataFrame, corpus: DataFrame, tau: Double,
                     numCentroids: Int, kmeansIters: Int = 1,
                     nprobe: Int = 2, corpusProbe: Int = 1): DataFrame = {
    val cents = kmeansCentroids(corpus, numCentroids, kmeansIters)
    val cb = probeAssignments(corpus, cents, nprobe = corpusProbe)
      .select(col("vec_id").as("neighbor_id"), col("ev"), col("bucket"))
    val qb = probeAssignments(queries, cents, nprobe)
      .select(col("vec_id").as("q_id"), col("ev").as("qv"), col("bucket"))
    cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("score", expr("graft_cosine(qv, ev)"))
      .filter(col("score") >= tau)
      // corpusProbe > 1 lists a vector in several buckets, so a
      // (query, neighbor) pair can surface once per shared bucket —
      // dedup to membership before anything counts pairs
      .select(col("q_id"), col("neighbor_id"), col("score"))
      .dropDuplicates("q_id", "neighbor_id")
  }

  /** Recall gate for the IVF-pruned range path against the exact
    * one-scan twin — the range analog of [[nearDupRecall]]: bucket
    * assignment is centroid-dependent (not SQL-reproducible), but
    * "the pruned pass recovers ≥ floor of the true range set, and
    * invents none" is deterministic and oracle-checkable. Precision 1
    * is structural (exact-cosine re-verified), emitted as a
    * consistency row.
    */
  def rangeRecall(queries: DataFrame, corpus: DataFrame, tau: Double,
                  numCentroids: Int, floor: Double,
                  nprobe: Int = 2, corpusProbe: Int = 1): DataFrame = {
    val keys = Seq("q_id", "neighbor_id")
    pairSetGate(
      rangeSearch(queries, corpus, tau).select(keys.map(col): _*),
      ivfRangeSearch(queries, corpus, tau, numCentroids,
          nprobe = nprobe, corpusProbe = corpusProbe)
        .select(keys.map(col): _*),
      keys, floor)
  }

  /** The pair-set gate [[rangeRecall]] and [[nearDupRecall]] share:
    * one (n_exact, recall_ok, precision_ok) row from an exact and an
    * approximate membership set keyed by `keys`. Recall counts the
    * exact pairs the approximate pass recovered (≥ `floor` of them);
    * precision holds when every approximate pair is an exact one.
    */
  private def pairSetGate(exact: DataFrame, approx: DataFrame,
                          keys: Seq[String], floor: Double): DataFrame = {
    val hits = exact.join(approx, keys, "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("n_found")))
      .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
      .select(
        col("n_exact"),
        (col("n_found") >= col("n_exact") * floor).as("recall_ok"),
        (col("n_found") === col("n_approx")).as("precision_ok"))
  }

  /** MMR-diversified top-k — the retrieval RERANKER next to raw
    * similarity search: greedily pick k of the top-`cand` candidates
    * maximizing λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s), so the
    * result covers the query's neighborhood instead of returning k
    * near-copies of the same cluster (Carbonell & Goldstein 1998 —
    * public).
    *
    * Distribution shape: the EXPENSIVE part (scoring the corpus,
    * ranking top-cand per query) is [[bruteTopK]]'s corpus-scan +
    * map-side heap — swap in any indexed variant for the 100 TB path.
    * The greedy tail operates on a |queries|·cand sliver whose
    * candidate-pair sims are one broadcast self-join of that sliver
    * (≤ |q|·cand² rows); both frames are K-bounded BY CONSTRUCTION, so
    * the driver-side greedy loop is a bounded collect (the codebook
    * precedent), never corpus-proportional.
    *
    * Determinism: every similarity is the same codegen'd graft_cosine
    * both stages use; with the default λ = 0.5 the MMR combination is
    * 0.5·s − 0.5·m — two exact power-of-two scalings and one subtract —
    * so the cross-engine argmax is as stable as the sims themselves;
    * ties break on neighbor_id ascending.
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              cand: Int = 25, lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && cand >= k, s"need cand >= k >= 1, got k=$k cand=$cand")
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val cands = bruteTopK(queries, corpus, cand)
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")), "neighbor_id")
      .select(col("q_id"), col("neighbor_id"), col("score"), col("cv"))
    // candidate-pair sims: broadcast self-join of the bounded sliver,
    // scored by the SAME cosine primitive as the query scores
    val a = cands.select(col("q_id"), col("neighbor_id").as("x"), col("cv").as("av"))
    val b = cands.select(col("q_id"), col("neighbor_id").as("y"), col("cv").as("bv"))
    val pairSims = a.join(broadcast(b), Seq("q_id"))
      .filter(col("x") =!= col("y"))
      .select(col("q_id"), col("x"), col("y"),
        expr("graft_cosine(av, bv)").as("s"))
    val simByPair = pairSims.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    val byQuery = cands.select(col("q_id"), col("neighbor_id"), col("score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val picked = byQuery.toSeq.flatMap { case (qId, rows) =>
      val remaining = scala.collection.mutable.Map(
        rows.map(r => r._2 -> r._3).toSeq: _*)
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      (1 to math.min(k, rows.length)).map { rank =>
        // argmax of (mmr DESC, neighbor_id ASC) — first pick has no
        // selected set, so its penalty term is 0 (plain max score)
        val best = remaining.keys.toSeq.map { id =>
          val penalty =
            if (selected.isEmpty) 0.0
            else selected.map(s => simByPair((qId, id, s))).max
          (lambda * remaining(id) - (1 - lambda) * penalty, id)
        }.minBy { case (mmr, id) => (-mmr, id) }
        selected += best._2
        remaining -= best._2
        (qId, best._2, rank)
      }
    }
    import spark.implicits._
    picked.toDF("q_id", "neighbor_id", "mmr_rank")
  }

  /** Distributed spherical k-means over the embedding column — the real
    * centroid computation the first-K seeding was a placeholder for.
    * Each Lloyd round is ONE shuffle-free job: the K×dim centroid table
    * is tiny by construction, so it rides into the scan as a closure
    * broadcast (exactly MLlib KMeans' shape); every task assigns its
    * rows to their max-cosine centroid (ties to the lower centroid id —
    * the probeAssignments rule) and folds per-(bucket, dim) SUM/COUNT
    * partials locally, and the driver reduces the per-partition
    * partials IN PARTITION ORDER into the new means. Nothing shuffles
    * at all — the previous formulation paid two Exchanges (the
    * posexplode'd (bucket, dim, v) avg plus the collect_list
    * re-assembly), a broadcast exchange, and a left join per round, all
    * to move the same K×dim doubles this collects directly; and the
    * partition-ordered reduce makes the mean's double summation
    * deterministic where the old partial-avg merge order was not.
    * A bucket that attracted no members (possible when seed vectors
    * duplicate) keeps its previous centroid, so the centroid count
    * NEVER shrinks below k. Deterministic: first-K seed, no RNG.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansCentroidsCounted(corpus, k, iters)._1

  /** [[kmeansCentroids]] plus, per Lloyd round, how many partials the
    * driver collected (see [[lloydRoundSliced]]) — the spec's entry
    * point for the driver bound, returned per call so concurrent
    * trainings never see each other's counts.
    */
  private[ops] def kmeansCentroidsCounted(corpus: DataFrame, k: Int,
      iters: Int): (DataFrame, Seq[Int]) = {
    val spark = corpus.sparkSession
    var cents = collectVecs(
      corpus.filter(col("vec_id") < k).select(col("vec_id"), col("embedding")))
    val collected = Seq.newBuilder[Int]
    if (cents.nonEmpty) {
      for (_ <- 0 until iters) {
        val (agg, n) = lloydRoundSliced(corpus,
          Array((0, Int.MaxValue)), Array(cents))
        collected += n
        cents = meansOrPrev(cents, agg.head)
      }
    }
    (centroidFrame(spark, cents), collected.result())
  }

  /** (vec_id, embedding) rows collected and sorted by id — the
    * driver-held centroid shape every Lloyd round re-broadcasts. */
  private def collectVecs(df: DataFrame): Array[(Long, Array[Float])] =
    df.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            cents: Array[(Long, Array[Float])]): DataFrame = {
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      cents.map { case (id, v) => Row(id, v.toSeq) }.toIndexedSeq: _*)
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = true)))))
  }

  /** New-centroid fold: per centroid, the per-dim mean over the summed
    * partials (only dims that saw a member appear, ascending — the
    * exact gap-collapse the old collect_list(struct(dim, m)) re-assembly
    * had), empty buckets keeping their previous vector. */
  private def meansOrPrev(prev: Array[(Long, Array[Float])],
                          agg: (Array[Array[Double]], Array[Array[Long]]))
      : Array[(Long, Array[Float])] = {
    val (sums, cnts) = agg
    prev.indices.toArray.map { ci =>
      val cnt = cnts(ci)
      if (!cnt.exists(_ > 0L)) prev(ci)
      else {
        val out = Array.newBuilder[Float]
        var d = 0
        while (d < cnt.length) {
          if (cnt(d) > 0L) out += (sums(ci)(d) / cnt(d)).toFloat
          d += 1
        }
        (prev(ci)._1, out.result())
      }
    }
  }

  /** One Lloyd round for `cents.length` INDEPENDENT k-means problems
    * over column slices of the embedding, in a SINGLE shuffle-free
    * corpus pass: slices(p) = (0-based offset, length) of problem p's
    * sub-vector, cents(p) its current centroids sorted by id. Returns,
    * per problem, (per-centroid per-dim sums, per-centroid per-dim
    * counts), reduced over partitions IN PARTITION ORDER so the double
    * summation is deterministic, together with the number of partials
    * the driver collected for that fold. Assignment replicates graft_cosine
    * (dot over min length, norms over each side's full slice, 0.0 on a
    * zero norm) with ties to the lower centroid id. This is what lets
    * [[pqCodebooks]] train all m subspaces in iters+1 jobs instead of
    * m·(iters+1): the m argmax loops share one row read.
    *
    * INPUT CONTRACT (r17 ADVICE): embedding arrays must be null-free —
    * the typed decode (`as[(Long, Array[Float])]`) throws on a null
    * element where the old posexplode/avg path silently skipped it.
    * Every in-repo corpus satisfies this (parquet embeddings and the
    * exact-integer fixtures never emit null dims); a caller training on
    * an external corpus with nullable dims must filter or coalesce the
    * null elements first. Failing loudly beats averaging a silently
    * shorter vector.
    */
  private def lloydRoundSliced(
      corpus: DataFrame,
      slices: Array[(Int, Int)],
      cents: Array[Array[(Long, Array[Float])]])
      : (Array[(Array[Array[Double]], Array[Array[Long]])], Int) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centVecs = cents.map(_.map(_._2))
    val bc = spark.sparkContext.broadcast(centVecs)
    val partials = corpus.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        val cs = bc.value
        val nP = cs.length
        // centroid norms are row-independent — compute once per task
        val nbs = cs.map(_.map { cv =>
          var nb = 0.0; var i = 0
          while (i < cv.length) { val x = cv(i).toDouble; nb += x * x; i += 1 }
          nb
        })
        val sums = Array.tabulate(nP)(p =>
          Array.fill(cs(p).length)(new Array[Double](0)))
        val cnts = Array.tabulate(nP)(p =>
          Array.fill(cs(p).length)(new Array[Long](0)))
        it.foreach { case (_, v) =>
          var p = 0
          while (p < nP) {
            val off = slices(p)._1
            val len = math.max(0, math.min(slices(p)._2.toLong,
              v.length.toLong - off).toInt)
            var na = 0.0
            var i = 0
            while (i < len) {
              val x = v(off + i).toDouble; na += x * x; i += 1
            }
            var best = -1; var bestScore = Double.NegativeInfinity
            var ci = 0
            while (ci < cs(p).length) {
              val cv = cs(p)(ci)
              val n = math.min(len, cv.length)
              var dot = 0.0
              i = 0
              while (i < n) {
                dot += v(off + i).toDouble * cv(i).toDouble; i += 1
              }
              val sc =
                if (na == 0.0 || nbs(p)(ci) == 0.0) 0.0
                else dot / (math.sqrt(na) * math.sqrt(nbs(p)(ci)))
              if (sc > bestScore) { best = ci; bestScore = sc }
              ci += 1
            }
            if (best >= 0 && len > 0) {
              if (sums(p)(best).length < len) {
                sums(p)(best) = java.util.Arrays.copyOf(sums(p)(best), len)
                cnts(p)(best) = java.util.Arrays.copyOf(cnts(p)(best), len)
              }
              val s = sums(p)(best); val c = cnts(p)(best)
              var d = 0
              while (d < len) {
                s(d) += v(off + d).toDouble; c(d) += 1L; d += 1
              }
            }
            p += 1
          }
        }
        Iterator.single((pid, sums, cnts))
      }
    // Driver-received partials are BOUNDED at `maxDriverPartials`
    // (r18, guide §5 — the r17 verdict's 100 TB driver-memory trap: a
    // flat collect receives partitions × K × dim doubles, tens of GB at
    // O(10⁵) input partitions). At or below the bound the flat
    // pid-ordered fold runs unchanged — BIT-IDENTICAL to r17 on every
    // bench/oracle scale (their partition counts never exceed the
    // local core count). Above it, ONE deterministic executor-side
    // tree level folds contiguous pid ranges in ascending-pid order
    // (an identity partitioner on the range index — composition and
    // order are functions of pid alone, so retries and scheduling
    // cannot move a bit), and the driver folds the ≤64 group partials
    // in group order.
    val nPart = partials.getNumPartitions
    val collected =
      if (nPart <= maxDriverPartials) partials.collect().sortBy(_._1)
      else {
        val span = (nPart + maxDriverPartials - 1) / maxDriverPartials
        partials.keyBy(_._1 / span)
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = maxDriverPartials
            override def getPartition(key: Any): Int =
              key.asInstanceOf[Int]
          })
          .mapPartitions { it =>
            val group = it.map(_._2).toArray.sortBy(_._1)
            if (group.isEmpty) Iterator.empty
            else {
              val nP = bc.value.length
              val acc = Array.tabulate(nP)(p =>
                (Array.fill(bc.value(p).length)(new Array[Double](0)),
                  Array.fill(bc.value(p).length)(new Array[Long](0))))
              group.foreach { case (_, s, c) => mergePartials(acc, s, c) }
              Iterator.single((group.head._1,
                acc.map(_._1), acc.map(_._2)))
            }
          }
          .collect()
          .sortBy(_._1)
      }
    val acc = cents.map(c =>
      (Array.fill(c.length)(new Array[Double](0)),
        Array.fill(c.length)(new Array[Long](0))))
    collected.foreach { case (_, sums, cnts) =>
      mergePartials(acc, sums, cnts)
    }
    bc.destroy()
    (acc, collected.length)
  }

  /** The cap on per-Lloyd-round partials the DRIVER receives (see
    * [[lloydRoundSliced]]); package-visible so the spec can pin it.
    */
  private[ops] val maxDriverPartials = 64

  /** Element-wise (sums, cnts) merge of one partial into `acc`,
    * growing ragged per-centroid arrays as needed — the single shared
    * fold body for the driver's flat path, the executor-side tree
    * level, and the final group fold. Addition order is exactly the
    * caller's iteration order.
    */
  private def mergePartials(
      acc: Array[(Array[Array[Double]], Array[Array[Long]])],
      sums: Array[Array[Array[Double]]],
      cnts: Array[Array[Array[Long]]]): Unit = {
    var p = 0
    while (p < acc.length) {
      var ci = 0
      while (ci < acc(p)._1.length) {
        val len = sums(p)(ci).length
        if (acc(p)._1(ci).length < len) {
          acc(p)._1(ci) = java.util.Arrays.copyOf(acc(p)._1(ci), len)
          acc(p)._2(ci) = java.util.Arrays.copyOf(acc(p)._2(ci), len)
        }
        var d = 0
        while (d < len) {
          acc(p)._1(ci)(d) += sums(p)(ci)(d)
          acc(p)._2(ci)(d) += cnts(p)(ci)(d)
          d += 1
        }
        ci += 1
      }
      p += 1
    }
  }

  /** Deterministic bounded training sample: the `sampleSize`
    * hash-first rows of the corpus (ONE TakeOrdered pass —
    * `xxhash64(vec_id)` is a seedless pseudo-random order, ties broken
    * by id), EAGERLY materialized so the k-means iterations that
    * follow never re-scan the corpus. This is what bounds index-BUILD
    * cost at 100 TB: k-means quality depends on the sample being
    * representative, not exhaustive (the standard PQ/IVF training
    * practice — codebooks train on a fixed-size sample, then ONE
    * mandatory encode pass touches every vector), so training is
    * O(sampleSize · k · iters) + one corpus pass for the sample,
    * instead of O(N · k · iters). IvfScaleSpec holds the recall gate
    * for sample-trained against full-trained codebooks at realistic
    * (m, ksub) over the 100k generated corpus.
    */
  private def trainingSample(corpus: DataFrame, sampleSize: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
    // re-key by hash rank: every kmeansCentroids consumer seeds with
    // `vec_id < k`, which on the ORIGINAL ids could select zero sample
    // rows — rank keys make the first-K seeds the hash-spread head
    rows.as[(Long, Array[Float])].rdd
      .zipWithIndex.map { case ((_, v), i) => (i, v) }
      .toDF("vec_id", "embedding")
      .localCheckpoint(true)
  }

  /** [[kmeansCentroids]] trained on a bounded [[trainingSample]] —
    * same output contract (never fewer than k centroids, deterministic
    * first-K-of-sample seeds), training cost independent of corpus
    * size. `samplePerCentroid` sets sample = k · that (min 1024).
    */
  def kmeansCentroidsSampled(corpus: DataFrame, k: Int, iters: Int,
                             samplePerCentroid: Int = 32): DataFrame =
    kmeansCentroids(
      trainingSample(corpus, math.max(1024, k * samplePerCentroid)),
      k, iters)

  /** [[pqCodebooks]] trained on ONE bounded [[trainingSample]] shared
    * by all m subspaces — a single corpus pass builds the sample, then
    * the m trainings iterate over sample SLICES in memory. At 100 TB
    * this is the only affordable codebook shape: the full-corpus
    * variant pays m · iters distributed corpus scans; this pays one.
    */
  def pqCodebooksSampled(corpus: DataFrame, m: Int, ksub: Int,
                         iters: Int, dim: Int,
                         samplePerCentroid: Int = 32): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sample = trainingSample(corpus,
      math.max(1024, ksub * samplePerCentroid))
    pqCodebooks(sample, m, ksub, iters, dim)
  }

  /** Rank-bounded centroid assignments: every (vector, bucket) pair
    * where the bucket is one of the vector's `nprobe` nearest centroids
    * — the shared primitive behind single-probe bucketing, multi-probe
    * candidate generation, and query-side probing (one tie-break rule,
    * score desc then c_id, everywhere).
    */
  private def probeAssignments(corpus: DataFrame, centroids: DataFrame,
                               nprobe: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // The K centroids fold to ONE broadcast row of (c_id, vector)
    // structs, and each corpus row picks its nprobe nearest entirely
    // row-locally (score all K, sort, slice) — ZERO shuffle. The
    // windowed formulation this replaced (row_number over
    // partitionBy(vec_id) on the corpus×centroids cross join) shuffled
    // every embedding K times just to rank K broadcast-scored rows.
    // array_sort on struct(-score, c_id) is (score DESC, c_id ASC) —
    // the same tie-break rule as everywhere else in this file.
    val centArr = centroids.agg(
      array_sort(collect_list(struct(col("vec_id").as("c_id"),
        col("embedding").as("cv")))).as("cents"))
    corpus
      .select(col("vec_id"), col("embedding").as("ev"))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("ev"),
        explode(expr(
          s"""transform(slice(array_sort(transform(cents,
             |  c -> struct(-graft_cosine(ev, c.cv) AS negs, c.c_id AS c_id))),
             |  1, $nprobe), x -> x.c_id)""".stripMargin)).as("bucket"))
  }

  /** Assign every vector to its nearest of the K centroid vectors. */
  def assignBuckets(corpus: DataFrame, centroids: DataFrame): DataFrame =
    probeAssignments(corpus, centroids, nprobe = 1)
      .select(col("vec_id"), col("ev").as("embedding"), col("bucket"))

  /** Embedding-cosine near-duplicate pairs — the ANN-flavored dedup
    * variant: candidates are generated WITHIN IVF buckets (never
    * all-pairs), then kept when exact cosine ≥ threshold. At 100 TB the
    * quadratic term is bounded per bucket, and buckets hash-partition.
    *
    * `nprobe` is the recall lever: each vector lands in its `nprobe`
    * nearest buckets for CANDIDATE generation (single-probe splits
    * boundary pairs across buckets — measured 29-46% pair recall on
    * testdata; nprobe=2 lifts it past the gate floor). Candidate rows
    * carry ids only; embeddings re-attach for the verified cosine, so
    * the probe multiplier never multiplies payload shuffles.
    *
    * `maxBucket` is the skew guard: k-means gives NO bucket-size
    * guarantee (one Lloyd round from a first-K seed can pour a clustered
    * corpus into few buckets), and pair generation is quadratic per
    * bucket. Buckets above the cap are excluded from pair generation and
    * the drop shouts through LshGuard's observe metrics — same loud-drop
    * contract as the LSH dedups. The recall gates catch quality
    * regressions; this catches the runaway-cost regression they can't.
    */
  def embeddingNearDups(corpus: DataFrame, numCentroids: Int,
                        threshold: Double, kmeansIters: Int = 1,
                        nprobe: Int = 2, maxBucket: Int = 10000): DataFrame = {
    val centroids = kmeansCentroids(corpus, numCentroids, kmeansIters)
    val multi = probeAssignments(corpus, centroids, nprobe)
      .select(col("vec_id"), col("bucket"))
    // bucket-grouped pair generation — the same capped skeleton as the
    // LSH dedups: one shuffle of (bucket, id) rows, no self-join
    // duplicating the probe subtree, explosion bounded and
    // drop-accounted by LshGuard BEFORE it is ever planned
    val candidates = LshGuard.pairsFromIdBuckets(
      multi
        .groupBy(col("bucket"))
        .agg(sort_array(collect_list(col("vec_id"))).as("ids")),
      maxBucket, "ivf")
    candidates
      .join(corpus.select(col("vec_id").as("id_a"), col("embedding").as("qv")), "id_a")
      .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("ev")), "id_b")
      .withColumn("score", cosine(corpus))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Recall gate for the IVF-bucketed near-dup path against the exact
    * all-pairs twin on a bounded slice — the dedup analog of
    * [[recall]]: bucket assignment is centroid-dependent (not
    * SQL-reproducible), but "the bucketed pass recovers >= floor of the
    * true pairs, and invents none" is deterministic and oracle-checkable.
    * Precision 1 is structural (bucketed pairs are exact-cosine
    * verified), emitted anyway as a consistency row.
    */
  def nearDupRecall(corpus: DataFrame, numCentroids: Int,
                    threshold: Double, floor: Double,
                    nprobe: Int = 2): DataFrame = {
    val keys = Seq("id_a", "id_b")
    pairSetGate(
      bruteNearDups(corpus, threshold).select(keys.map(col): _*),
      embeddingNearDups(corpus, numCentroids, threshold, nprobe = nprobe)
        .select(keys.map(col): _*),
      keys, floor)
  }

  /** SemDeDup-style semantic deduplication — the keep/drop DECISION
    * layer a curation pipeline actually applies, on top of the
    * embedding near-dup machinery (Abbas et al. 2023, "SemDeDup":
    * cluster the embedding space, dedup within clusters): candidate
    * pairs come cluster-scoped from [[embeddingNearDups]] (IVF buckets
    * bound the quadratic term; cap drops shout through LshGuard),
    * survivors are exact-cosine verified, transitive duplicate GROUPS
    * close under `Dedup.components` (pointer-jumping, O(log diameter)
    * distributed rounds — components' min-label propagation makes each
    * group's representative its lowest id), and every corpus row comes
    * back as (vec_id, keep, rep_id) — keep = "I am my group's
    * representative"; unpaired docs represent themselves. At 100 TB
    * every stage is the bounded shape it was built from: no all-pairs,
    * one corpus pass for centroids, pair generation per-bucket, and
    * the component loop touches only PAIRED ids (a near-dup sliver of
    * the corpus), never the full row set.
    */
  def semanticDedup(corpus: DataFrame, numCentroids: Int,
                    threshold: Double, kmeansIters: Int = 1,
                    nprobe: Int = 2, maxBucket: Int = 10000): DataFrame =
    dedupDecisions(corpus,
      embeddingNearDups(corpus, numCentroids, threshold, kmeansIters,
        nprobe, maxBucket))

  /** [[semanticDedup]] with EXACT all-pairs candidates over a bounded
    * slice — the oracle-checkable twin (bucketed candidates are
    * centroid-dependent; all-pairs + components is SQL-reproducible).
    * Same decision semantics, quadratic candidate stage: callers bound
    * the input, the scale path is [[semanticDedup]].
    */
  def semanticDedupExact(corpus: DataFrame, threshold: Double): DataFrame =
    dedupDecisions(corpus, bruteNearDups(corpus, threshold))

  private def dedupDecisions(corpus: DataFrame,
                             pairs: DataFrame): DataFrame = {
    val comps = graft.ops.Dedup.components(
      pairs.select(col("id_a"), col("id_b")))
    corpus.select(col("vec_id"))
      // explicit broadcast: comps is a stats-less checkpointed sliver
      // (Dedup.keepBest rationale — never shuffle the corpus side)
      .join(broadcast(
          comps.select(col("doc_id").as("vec_id"), col("component"))),
        Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("rep_id"))
      .withColumn("keep", col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("keep"), col("rep_id"))
  }

  /** Exact all-pairs near-dup baseline over a BOUNDED corpus slice —
    * the correctness-oracle twin of `embeddingNearDups`. Quadratic by
    * construction, so callers bound the input (a fixed id-range slice);
    * the scale path for an unbounded corpus is the IVF-bucketed variant
    * above. One side broadcasts, so the slice never shuffles.
    */
  def bruteNearDups(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("id_a"), col("embedding").as("qv"))
    val b = corpus.select(col("vec_id").as("id_b"), col("embedding").as("ev"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("score", cosine(corpus))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Deterministic random-hyperplane (sign-)LSH keys: for each of
    * `tables` hash tables, a `bits`-bit key whose b-th bit is
    * sign(v · h_tb) for a pseudo-random hyperplane h_tb derived from
    * (seed, table, bit, dim) via splitmix64 — no RNG state, so the same
    * vector always lands in the same bucket on every executor and every
    * run. Computed per partition as a single imperative kernel (a
    * tables×bits×dim literal-expression formulation would repeat the
    * SimHash r7 codegen blow-up), one plane matrix per partition.
    * Emits (id, table, key, vec); vectors never shuffle — candidate
    * joins broadcast the QUERY side's keys.
    */
  private[ops] def lshKeys(vecs: DataFrame, idCol: String,
                           tables: Int, bits: Int, dim: Int,
                           seed: Long): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val t = tables; val b = bits; val d = dim; val s0 = seed
    vecs
      .select(col(idCol).cast("long").as("id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        // plane(t)(b)(d): symmetric uniform in [-1, 1] from splitmix64
        val planes = Array.tabulate(t, b, d) { (ti, bi, di) =>
          val h = splitmix(s0 ^ (ti.toLong << 42) ^ (bi.toLong << 21) ^ di.toLong)
          (h.toDouble / Long.MaxValue).toFloat
        }
        it.flatMap { case (id, v) =>
          (0 until t).iterator.map { ti =>
            var key = 0L
            var bi = 0
            while (bi < b) {
              var dot = 0.0f
              var di = 0
              val p = planes(ti)(bi)
              while (di < d && di < v.length) { dot += v(di) * p(di); di += 1 }
              if (dot > 0) key |= 1L << bi
              bi += 1
            }
            (id, ti, key, v)
          }
        }
      }
      .toDF("id", "table", "key", "vec")
  }

  /** LSH-bucketed ANN — the brief's second scale path next to IVF:
    * corpus vectors key into `tables` sign-LSH tables; a query's
    * candidates are the union of its buckets across tables (any-table
    * collision), exact-cosine-scored and ranked with the bounded
    * map-side `graft_topk`. The corpus never shuffles: query keys
    * broadcast into the candidate join exactly like IVF's probe side,
    * and only candidate (q, neighbor) id pairs (plus the two vectors
    * riding the matched rows) reach the ranking. More tables raise
    * recall; more bits shrink buckets — the (tables, bits) pair tunes
    * the same curve (bucket work vs recall) nprobe/K tunes for IVF.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              tables: Int = 24, bits: Int = 4, dim: Int = 64,
              seed: Long = 42L): DataFrame =
    topKPerQuery(
      lshCandidates(queries, corpus, tables, bits, dim, seed)
        .withColumn("score", cosine(corpus)), k)

  /** The LSH path's candidate set — (q_id, neighbor_id, qv, ev) rows,
    * one per any-table bucket collision: the frame whose SIZE is the
    * index's work (and whose fraction of the corpus the clustered
    * gates assert).
    */
  private[ops] def lshCandidates(queries: DataFrame, corpus: DataFrame,
                                 tables: Int, bits: Int, dim: Int,
                                 seed: Long): DataFrame = {
    val ck = lshKeys(corpus, "vec_id", tables, bits, dim, seed)
    val qk = lshKeys(queries, "vec_id", tables, bits, dim, seed)
      .select(col("id").as("q_id"), col("table"), col("key"),
        col("vec").as("qv"))
    ck
      .join(broadcast(qk), Seq("table", "key"))
      .filter(col("q_id") =!= col("id"))
      // a pair colliding in several tables must score once, not T times
      .dropDuplicates("q_id", "id")
      .select(col("q_id"), col("id").as("neighbor_id"),
        col("qv"), col("vec").as("ev"))
  }

  /** Per-dimension SQ8 quantization bounds (min/max over the corpus) as
    * ONE single-row frame of (los, his) arrays — a posexplode into a
    * map-side-combined (dim, lo, hi) aggregation, then folded to arrays
    * so the bounds BROADCAST to the quantization scan instead of
    * joining per row. At 100 TB this is one linear pass producing 2×dim
    * floats.
    */
  private[ops] def sq8Bounds(corpus: DataFrame): DataFrame =
    corpus
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .agg(array_sort(collect_list(struct(col("dim"), col("lo"), col("hi"))))
        .as("dlh"))
      .select(
        expr("transform(dlh, x -> x.lo)").as("los"),
        expr("transform(dlh, x -> x.hi)").as("his"))

  /** Affine int8 quantization of the embedding column against broadcast
    * per-dimension bounds: lo ↦ −127, hi ↦ +127, CLAMPED to [−127, 127]
    * so the int8 codomain holds for ANY input — bounds come from the
    * corpus, and a query vector outside a corpus dimension's [lo, hi]
    * would otherwise quantize past ±127 (r6 ADVICE; in-corpus vectors
    * are unaffected, the clamp is the out-of-sample contract). A
    * constant-width dimension collapses to 0 instead of dividing by
    * zero. Plain-column indexing only — the lambda never re-derives a
    * computed array.
    */
  private[ops] def quantized(vecs: DataFrame, outId: String, outQ: String,
                             bounds: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(bounds))
      .select(col("vec_id").as(outId),
        expr(
          """transform(sequence(0, size(embedding) - 1),
            |  i -> IF(his[i] = los[i], 0,
            |       GREATEST(-127, LEAST(127,
            |         CAST(round((embedding[i] - los[i]) / (his[i] - los[i])
            |              * 254.0D - 127.0D) AS INT)))))""".stripMargin).as(outQ))

  /** SQ8 top-k: int8-quantized candidate generation + exact float
    * rerank — the memory-bandwidth scale path ANN at 100 TB runs next
    * to IVF (4× smaller vectors in the scan that touches EVERY corpus
    * row; the float vectors are fetched only for the `cand` candidates
    * per query). Candidate scoring is the native codegen'd
    * graft_int_dot — on unit-norm embeddings the integer dot preserves
    * cosine order up to quantization error, which the exact rerank over
    * `cand` >> k candidates absorbs. Deterministic end to end: affine
    * quantization has no RNG and every ranking breaks ties by
    * neighbor_id.
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
              cand: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val bounds = sq8Bounds(corpus)
    val qcorpus = quantized(corpus, "neighbor_id", "eq", bounds)
    val qqueries = quantized(queries, "q_id", "qq", bounds)
    // candidate generation: quantized scan scored in codegen, then the
    // bounded map-side graft_topk — the exchange carries ≤ partitions ×
    // |queries| × cand heap entries, NEVER the scored corpus (the
    // int-dot is exact in DOUBLE far past any int8 magnitude, so the
    // cast preserves candidate order bit for bit)
    val scored = qcorpus
      .crossJoin(broadcast(qqueries))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("ascore", expr("CAST(graft_int_dot(qq, eq) AS DOUBLE)"))
    rerankExact(topCandidates(scored, cand), queries, corpus, k)
  }

  /** IVF search — probe each query's `nprobe` nearest of the caller's
    * centroids — over a PREBUILT (vec_id, embedding, bucket) index: the
    * IVF family's one search path. The index table is whatever
    * `assignBuckets` produced, whether computed this session (train
    * `kmeansCentroids` once, search many), loaded from parquet
    * ([[loadIvfIndex]]), or a persisted history UNION an incrementally
    * assigned new batch (assignment is per-row deterministic given the
    * centroids, so ingest-without-retrain gives bit-identical search
    * results to a full rebuild with the same centroids — driver-gated
    * by ann_incremental).
    */
  def ivfTopKIndexed(queries: DataFrame, index: DataFrame,
                     centroids: DataFrame, nprobe: Int, k: Int): DataFrame = {
    // query-side probing reuses the zero-shuffle row-local selection
    val queryBuckets = probeAssignments(
        queries.select(col("vec_id"), col("embedding")), centroids, nprobe)
      .select(col("vec_id").as("q_id"), col("ev").as("qv"), col("bucket"))

    // probed-bucket scoring in codegen, ranking via the bounded
    // map-side graft_topk — the per-query nprobe/K corpus slice is
    // reduced to ≤ k heap entries per partition before any exchange
    topKPerQuery(
      index
        .join(broadcast(queryBuckets), "bucket")
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          col("qv"), col("embedding").as("ev"))
        .withColumn("score", cosine(index)),
      k)
  }

  /** Persist an IVF index as plain parquet: `dir/centroids` (K rows)
    * and `dir/buckets` — the (vec_id, embedding, bucket) table,
    * PARTITIONED BY bucket so a probed search prunes non-probed
    * buckets at the FILE level (partition pruning on the bucket join
    * key). The ANN sibling of the MinHash band-row index
    * (incrementalMinhashWithIndex): build once, search and ingest
    * forever without re-reading or re-clustering the corpus.
    */
  def saveIvfIndex(corpus: DataFrame, centroids: DataFrame,
                   dir: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    assignBuckets(corpus, centroids)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/buckets")
  }

  /** Load a [[saveIvfIndex]] layout → (centroids, index) frames. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/buckets")
        .select(col("vec_id"), col("embedding"), col("bucket")))

  /** DELETES against a persisted append-only index (r17 — the dedup↔ANN
    * composition gap: dedup decisions delete docs, but the persisted
    * bucket-partitioned index never rewrites): deleted ids append to a
    * `dir/tombstones` parquet — pure append, O(deletes), no index
    * rewrite, mirroring the LSM discipline every mutable surface here
    * uses.
    */
  def appendIndexTombstones(dir: String, ids: DataFrame): Unit =
    ids.select(col("vec_id")).distinct()
      .write.mode("append").parquet(s"$dir/tombstones")

  /** [[loadIvfIndex]] with tombstones applied: the index frame
    * anti-joins the tombstone set BROADCAST (bounded by deletes since
    * the last rebuild, never corpus size), so the filter rides the
    * probed bucket scan with zero extra shuffle and the partition
    * pruning is untouched. A periodic rebuild (saveIvfIndex over the
    * surviving corpus) absorbs the tombstones — the compaction
    * amortization of an LSM tombstone set. Search results
    * are IDENTICAL to a rebuilt index with the same centroids
    * (assignment is per-row deterministic) — driver-gated by
    * ann_index_delete.
    */
  def loadIvfIndexTombstoned(spark: org.apache.spark.sql.SparkSession,
                             dir: String): (DataFrame, DataFrame) = {
    val (cents, idx) = loadIvfIndex(spark, dir)
    val tDir = s"$dir/tombstones"
    val pruned =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(tDir)))
        idx.join(broadcast(spark.read.parquet(tDir)
            .select(col("vec_id")).distinct()),
          Seq("vec_id"), "left_anti")
      else idx
    (cents, pruned)
  }

  /** Product-quantization codebooks: the embedding splits into `m`
    * contiguous `dim/m`-wide subspaces, and each subspace trains its own
    * `ksub`-centroid spherical k-means codebook (the Jégou et al. "PQ"
    * index shape) — all m problems JOINTLY, one corpus pass per Lloyd
    * round ([[lloydRoundSliced]]), the offline index-build pass of a
    * production pipeline. Deterministic: first-K seeds, no RNG.
    * Returns (subspace, c_id, cv).
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iters: Int,
                  dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val spark = corpus.sparkSession
    // the m subspace trainings are independent k-means problems over
    // SLICES of the same row — train them JOINTLY through
    // lloydRoundSliced so one corpus pass per Lloyd round serves all m
    // argmax loops (iters+1 jobs total, zero shuffles), instead of m
    // concurrent per-subspace job chains each re-scanning the corpus
    // (m·(iters+1) jobs; this also retires the Await/Future
    // orchestration those chains needed). Seeds are the first-ksub
    // rows' slices — ONE pushdown-filtered pass instead of m.
    val seedRows = collectVecs(
      corpus.filter(col("vec_id") < ksub)
        .select(col("vec_id"), col("embedding")))
    val slices = Array.tabulate(m)(s => (s * dsub, dsub))
    var cents: Array[Array[(Long, Array[Float])]] = Array.tabulate(m) { s =>
      seedRows.map { case (id, v) =>
        (id, v.slice(s * dsub, math.min(s * dsub + dsub, v.length)))
      }
    }
    if (seedRows.nonEmpty) {
      for (_ <- 0 until iters) {
        val (agg, _) = lloydRoundSliced(corpus, slices, cents)
        cents = Array.tabulate(m)(s => meansOrPrev(cents(s), agg(s)))
      }
    }
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      (0 until m).flatMap(s => cents(s).map { case (id, cv) =>
        Row(s, id, cv.toSeq)
      }): _*)
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("subspace",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("c_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = true)))))
  }

  /** PQ top-k: m-byte-code candidate generation + exact float rerank —
    * the third scale path next to IVF (bucket pruning) and SQ8 (narrow
    * exact scan). The full-corpus candidate scan touches only each
    * vector's m subspace codes: ADC (asymmetric distance computation)
    * approximates cosine as Σ_s lut[s][code_s] / (|q|·|v̂|), where the
    * per-query lut holds q's sub-vector dot against every codebook
    * centroid and |v̂| is the reconstruction norm stored at encode time
    * — m table lookups per (row, query) instead of `dim` multiplies,
    * and a dim·32/(m·log₂ksub)-fold smaller index (64× here: 4-byte
    * codes vs 256-byte vectors) in the scan that touches EVERY corpus
    * row. Flat PQ is IVF-PQ with a single coarse cell ([[singleCell]]),
    * so it runs the composed index's encode → ADC → top-`cand` → exact
    * rerank path ([[ivfpqTopKWith]]) with `nprobe = 1`: every vector
    * and every query share the one bucket, so every (query, vector ≠
    * query) pair is ADC-scored, exactly the flat scan. Encode and
    * score run as per-partition kernels against the broadcast codebook
    * (the lshKeys precedent — an m×ksub×dsub nested-HOF expression
    * would re-slice computed arrays per centroid, the r5 154× trap).
    * Exact rerank over `cand` ≫ k candidates absorbs quantization
    * error; everything breaks ties by id, so the result is
    * deterministic end to end.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, cand: Int,
             m: Int = 4, ksub: Int = 16, iters: Int = 1,
             dim: Int = 64): DataFrame =
    ivfpqTopKWith(queries, corpus, singleCell(corpus.sparkSession),
      pqCodebooks(corpus, m, ksub, iters, dim), nprobe = 1, k, cand)

  /** Flat PQ's coarse quantizer: ONE centroid, built on the driver (no
    * training job). Its vector is empty and never matters — with one
    * cell, the encode argmax and the query probe both pick bucket 0.
    */
  private def singleCell(spark: org.apache.spark.sql.SparkSession): DataFrame =
    centroidFrame(spark, Array((0L, Array.empty[Float])))

  /** The composed index's PROBED-and-ADC-scored pair frame — every
    * (query, corpus vector) the coarse quantizer let through: its
    * per-query row count over |corpus| IS the coarse scan fraction
    * (~nprobe/K by mass), which the clustered gate asserts from this
    * real frame rather than from parameters.
    */
  private def ivfpqScored(queries: DataFrame, corpus: DataFrame,
                          coarse: DataFrame, idx: PqIndex,
                          nprobe: Int): DataFrame =
    adcScoreIndexed(queries, encodeIvfPq(corpus, coarse, idx), coarse,
      idx, nprobe)

  /** ONE index-build pass over `corpus`: coarse bucket (argmax cosine
    * over the K centroids, ties to the lower id like probeAssignments)
    * + PQ codes + reconstruction norm per row — the (vec_id, bucket,
    * codes, rnorm) table every IVF-PQ surface (in-session search,
    * persisted layout, incremental ingest) shares. Per-row
    * deterministic given (coarse, idx), which is what makes
    * ingest-without-retrain bit-identical to a full re-encode.
    */
  private def encodeIvfPq(corpus: DataFrame, coarse: DataFrame,
                          idx: PqIndex): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val coarseArr = coarse.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val coarseNorm = coarseArr.map { case (_, cv) =>
      math.sqrt(cv.map(x => x.toDouble * x).sum)
    }
    corpus.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          var best = 0L; var bestScore = Double.NegativeInfinity
          var c = 0
          while (c < coarseArr.length) {
            var dot = 0.0; var d = 0
            val cv = coarseArr(c)._2
            while (d < cv.length && d < v.length) {
              dot += v(d).toDouble * cv(d); d += 1
            }
            val sc = if (coarseNorm(c) == 0.0) 0.0 else dot / coarseNorm(c)
            if (sc > bestScore) { best = coarseArr(c)._1; bestScore = sc }
            c += 1
          }
          val (codes, rn) = idx.encode(v)
          (id, best, codes, rn)
        }
      }
      .toDF("vec_id", "bucket", "codes", "rnorm")
  }

  /** ADC scoring of a prebuilt codes table: query-side probing (the
    * same zero-shuffle row-local selection as IVF), probed pairs join
    * the SLIM (bucket, codes, rnorm) index — nprobe/K of the corpus by
    * mass, m bytes per vector instead of dim floats — and score in a
    * kernel against the closure-broadcast codebooks.
    */
  private def adcScoreIndexed(queries: DataFrame, codes: DataFrame,
                              coarse: DataFrame, idx: PqIndex,
                              nprobe: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val lutById = pqLuts(queries, idx).map(t => t._1 -> (t._2, t._3)).toMap
    val queryBuckets = probeAssignments(
        queries.select(col("vec_id"), col("embedding")), coarse, nprobe)
      .select(col("vec_id").as("q_id"), col("bucket"))
    codes
      .join(broadcast(queryBuckets), "bucket")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("codes"), col("rnorm"))
      .as[(Long, Long, Array[Int], Double)]
      .mapPartitions { it =>
        it.map { case (qid, id, codes, rn) =>
          val (lut, qn) = lutById(qid)
          (qid, id, idx.adc(lut, codes, qn, rn))
        }
      }
      .toDF("q_id", "neighbor_id", "ascore")
  }

  /** Encode a batch against CALLER-SUPPLIED coarse centroids and PQ
    * codebooks — the incremental-ingest primitive: a daily crawl is
    * encoded with ONE pass over itself (zero over history) and unioned
    * onto the persisted codes table; per-row determinism makes the
    * merged index bit-identical to re-encoding everything (gated by
    * ann_ivfpq_incremental, the `assignBuckets` precedent one level
    * up the quantization ladder).
    */
  def ivfpqEncodeWith(batch: DataFrame, coarse: DataFrame,
                      codebooks: DataFrame): DataFrame =
    encodeIvfPq(batch, coarse, pqIndexOf(codebooks))

  /** IVF-PQ: the composed 100 TB index — the coarse IVF quantizer
    * prunes the scan to the query's `nprobe` buckets (nprobe/K of the
    * corpus) and PQ codes shrink what that scan touches (m bytes per
    * vector), multiplying the two paths' savings exactly as a
    * production ANN index does (the Jégou et al. IVFADC layout). ONE
    * index-build pass encodes codes AND the coarse bucket per vector
    * (both argmax loops share the row); queries probe via the same
    * zero-shuffle row-local selection as IVF, the probed pairs join the
    * slim (bucket, codes) index, ADC-score in a kernel, and the exact
    * float rerank over `cand` candidates absorbs quantization error.
    * Coarse assignment ties break to the lower centroid id — the same
    * rule as `probeAssignments` — and everything downstream ties by id,
    * so the result is deterministic end to end.
    *
    * The caller trains the coarse centroids ([[kmeansCentroids]]) and
    * codebooks ([[pqCodebooks]]) once and searches many times. This
    * entry encodes the corpus in-session; for the persisted layout use
    * [[ivfpqTopKIndexed]] over [[loadIvfPqIndex]].
    */
  def ivfpqTopKWith(queries: DataFrame, corpus: DataFrame,
                    coarse: DataFrame, codebooks: DataFrame,
                    nprobe: Int, k: Int, cand: Int): DataFrame = {
    val idx = pqIndexOf(codebooks)
    rerankExact(
      topCandidates(adcScoreIndexed(queries,
        encodeIvfPq(corpus, coarse, idx), coarse, idx, nprobe), cand),
      queries, corpus, k)
  }

  /** IVF-PQ search over a PREBUILT (vec_id, bucket, codes, rnorm)
    * codes table — the production read path for the persisted index:
    * probed buckets prune the bucket-partitioned parquet at the FILE
    * level (dynamic partition pruning, same plan shape the IVF DPP
    * spec pins), the ADC scan touches only m-byte codes, and the exact
    * float rerank fetches `cand` vectors from `corpus` (the only place
    * float embeddings are read). `corpus` is whatever vector source
    * the ids resolve against — at 100 TB that read is a broadcast-side
    * BHJ over ≤ |queries|·cand ids, never a corpus scan.
    */
  def ivfpqTopKIndexed(queries: DataFrame, codes: DataFrame,
                       coarse: DataFrame, codebooks: DataFrame,
                       corpus: DataFrame, nprobe: Int, k: Int,
                       cand: Int): DataFrame = {
    val idx = pqIndexOf(codebooks)
    rerankExact(
      topCandidates(adcScoreIndexed(queries, codes, coarse, idx, nprobe),
        cand),
      queries, corpus, k)
  }

  /** Persist the composed IVF-PQ index — the deployment artifact at
    * 100 TB: `dir/centroids` (K coarse rows), `dir/codebooks` (m·ksub
    * sub-centroids), and `dir/codes` — the (vec_id, codes, rnorm)
    * table PARTITIONED BY bucket, so a probed search prunes non-probed
    * buckets at the file level exactly like [[saveIvfIndex]]'s layout,
    * while each file holds m-byte codes instead of float vectors (the
    * dim·32/(m·log₂ksub)-fold shrink that makes the scan affordable).
    * Build once, then search ([[ivfpqTopKIndexed]]) and ingest
    * ([[ivfpqEncodeWith]] + append) forever without re-training or
    * re-reading the corpus.
    */
  def saveIvfPqIndex(corpus: DataFrame, coarse: DataFrame,
                     codebooks: DataFrame, dir: String): Unit = {
    coarse.write.mode("overwrite").parquet(s"$dir/centroids")
    codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    ivfpqEncodeWith(corpus, coarse, codebooks)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/codes")
  }

  /** Load a [[saveIvfPqIndex]] layout → (coarse, codebooks, codes). */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebooks"),
      spark.read.parquet(s"$dir/codes")
        .select(col("vec_id"), col("codes"), col("rnorm"), col("bucket")))

  /** Driver-held PQ codebook index, closure-broadcast into kernels:
    * cb(s)(c)(d) centroids with precomputed norms. Serializable by
    * construction (plain arrays).
    */
  private final class PqIndex(val cb: Array[Array[Array[Float]]],
                              val cbNorm: Array[Array[Double]],
                              val m: Int, val ksub: Int,
                              val dsub: Int) extends Serializable {
    def subDot(v: Array[Float], s: Int, c: Array[Float]): Double = {
      var dot = 0.0; var d = 0
      while (d < dsub && s * dsub + d < v.length) {
        dot += v(s * dsub + d).toDouble * c(d); d += 1
      }
      dot
    }
    /** code_s = argmax_c cos(v_s, c) (ties to the lower c_id);
      * also returns |v̂| = sqrt(Σ_s |c_code|²). */
    def encode(v: Array[Float]): (Array[Int], Double) = {
      val codes = new Array[Int](m)
      var rn2 = 0.0
      var s = 0
      while (s < m) {
        var best = 0; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < ksub) {
          val n = cbNorm(s)(c)
          val sc = if (n == 0.0) 0.0 else subDot(v, s, cb(s)(c)) / n
          if (sc > bestScore) { best = c; bestScore = sc }
          c += 1
        }
        codes(s) = best
        rn2 += cbNorm(s)(best) * cbNorm(s)(best)
        s += 1
      }
      (codes, math.sqrt(rn2))
    }
    /** ADC cosine: Σ_s lut[s][code_s] / (|q|·|v̂|). */
    def adc(lut: Array[Array[Double]], codes: Array[Int],
            qn: Double, rn: Double): Double = {
      var sum = 0.0; var s = 0
      while (s < m) { sum += lut(s)(codes(s)); s += 1 }
      if (rn == 0.0 || qn == 0.0) 0.0 else sum / (qn * rn)
    }
  }

  /** Driver-side codebook assembly from a (subspace, c_id, cv) frame —
    * freshly trained ([[pqCodebooks]]) or loaded from a persisted
    * layout ([[loadIvfPqIndex]]); m/ksub/dsub are recovered from the
    * frame itself so the loaded index needs no side-channel params.
    * The collect is m·ksub rows by construction.
    */
  private def pqIndexOf(codebooks: DataFrame): PqIndex = {
    val cbRows = codebooks
      .select(col("subspace"), col("c_id"), col("cv")).collect()
    require(cbRows.nonEmpty, "empty PQ codebooks frame")
    val m = cbRows.iterator.map(_.getInt(0)).max + 1
    require(cbRows.length % m == 0,
      s"ragged PQ codebooks: ${cbRows.length} rows over $m subspaces")
    val ksub = cbRows.length / m
    val dsub = cbRows.head.getSeq[Float](2).length
    val cb = Array.ofDim[Array[Float]](m, ksub)
    cbRows.foreach { r =>
      val cid = r.getLong(1)
      // first-K seeding hands centroids the seed vectors' vec_ids, so
      // a sparse / offset id space yields out-of-range or missing
      // slots — fail LOUDLY here (the IVF path degrades gracefully on
      // the same input; an array index must not)
      require(cid >= 0 && cid < ksub,
        s"PQ codebook centroid id $cid outside [0, $ksub): first-K " +
          "seeding needs corpus vec_ids to include 0..ksub-1 — re-id " +
          "the corpus")
      cb(r.getInt(0))(cid.toInt) = r.getSeq[Float](2).toArray
    }
    require(cb.forall(_.forall(_ != null)),
      s"PQ codebooks incomplete (fewer than $ksub centroids in some " +
        "subspace): corpus vec_ids must include 0..ksub-1 for first-K " +
        "seeding — re-id the corpus")
    val cbNorm = cb.map(_.map(c => math.sqrt(c.map(x => x.toDouble * x).sum)))
    new PqIndex(cb, cbNorm, m, ksub, dsub)
  }

  /** Queries are broadcast-small by contract (as in every path here):
    * collect once, precompute each query's lut[s][c] and norm.
    */
  private def pqLuts(queries: DataFrame, idx: PqIndex)
      : Array[(Long, Array[Array[Double]], Double)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) =>
        val lut = Array.tabulate(idx.m, idx.ksub)((s, c) =>
          idx.subDot(qv, s, idx.cb(s)(c)))
        (qid, lut, math.sqrt(qv.map(x => x.toDouble * x).sum))
      }
  }

  /** Bounded map-side top-`cand` of an ADC-scored frame. */
  private def topCandidates(scored: DataFrame, cand: Int): DataFrame = {
    GraftFunctions.register(scored.sparkSession)
    scored
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(ascore, neighbor_id, $cand)").as("top"))
      .select(col("q_id"),
        explode(expr("transform(top, x -> x.id)")).as("neighbor_id"))
  }

  /** Exact float rerank of a bounded candidate set: ≤ |queries| × cand
    * rows by construction — broadcast so the float-vector fetch is a
    * map-side BHJ and the corpus never shuffles.
    */
  private def rerankExact(candidates: DataFrame, queries: DataFrame,
                          corpus: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      broadcast(candidates)
        .join(corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ev")), "neighbor_id")
        .join(broadcast(queries.select(col("vec_id").as("q_id"),
          col("embedding").as("qv"))), "q_id")
        .withColumn("score", cosine(corpus)),
      k)

  /** Recall gate: per query, the approximate result `approx` (any
    * search here, passed in whole) must recover ≥ `floor` of the exact
    * brute-force top-k. This turns a centroid- or hash-dependent (hence
    * not SQL-reproducible) result into a deterministic,
    * oracle-checkable (q_id, recall_ok) row set; the brute side is
    * itself oracle-checked by ann_brute_topk. A query the approximate
    * side misses — or that neither side returns — reads red instead of
    * vanishing.
    */
  def recall(queries: DataFrame, corpus: DataFrame, k: Int, floor: Int,
             approx: DataFrame): DataFrame =
    perQuerySetGate(queries, bruteTopK(queries, corpus, k), approx,
      "recall_ok")((brute, found) =>
        size(array_intersect(brute, found)) >= floor)

  /** Exact-set-equality gate between two searches that must agree —
    * persisted vs in-session index, incremental vs rebuilt: a
    * (q_id, identical_ok) row per query, ordered by q_id, where
    * identical_ok demands the two (q_id, neighbor_id) sets coincide AND
    * carry exactly `k` rows — set equality at exactly k rows is
    * |A| = |B| = |A ∩ B| = k. A pair in exactly one side shrinks the
    * intersection below k, a short or missing result fails its own
    * size check; nothing reads vacuously equal.
    */
  def identical(queries: DataFrame, a: DataFrame, b: DataFrame,
                k: Int): DataFrame =
    perQuerySetGate(queries, a, b, "identical_ok")((sa, sb) =>
      size(sa) === k && size(sb) === k &&
        size(array_intersect(sa, sb)) === k)
      .orderBy(col("q_id"))

  /** The fold both per-query gates share: the two (q_id, neighbor_id)
    * frames union with a side tag and fold per q_id into their two
    * neighbor sets (collect_set skips the null the other side's `when`
    * emits), `pred` judges the pair of sets, and every query of
    * `queries` gets a row — coalesced to false when neither side
    * returned it.
    *
    * ONE keyed aggregation pass (r18, guide §2.4 — replace a join
    * cascade with one keyed pass). The previous shape — semi- or
    * full-outer-join the two result frames on (q_id, neighbor_id),
    * re-aggregate by q_id, then outer-join queries — paid two
    * SortMergeJoins and three Exchanges of 25-row frames, each an AQE
    * stage-job. Both inputs are top-k outputs (unique (q_id,
    * neighbor_id) by construction), so the set algebra counts exactly
    * what the joins counted. The per-query aggregate is ≤ |queries|
    * rows, but |queries| has no bound here, so the join strategy is
    * left to AQE's runtime size check rather than a broadcast hint.
    */
  private def perQuerySetGate(queries: DataFrame, a: DataFrame,
                              b: DataFrame, outCol: String)(
      pred: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): DataFrame = {
    val tagged = a.select(col("q_id"), col("neighbor_id"),
        lit(true).as("in_a"))
      .unionByName(b.select(col("q_id"), col("neighbor_id"),
        lit(false).as("in_a")))
    val perQ = tagged.groupBy(col("q_id"))
      .agg(
        collect_set(when(col("in_a"), col("neighbor_id"))).as("sa"),
        collect_set(when(!col("in_a"), col("neighbor_id"))).as("sb"))
      .select(col("q_id"), pred(col("sa"), col("sb")).as("ok"))
    queries.select(col("vec_id").as("q_id"))
      .join(perQ, Seq("q_id"), "left_outer")
      .select(col("q_id"), coalesce(col("ok"), lit(false)).as(outCol))
  }

  /** Per-query candidate-fraction gate: the share of the corpus an
    * index actually touched as candidates must stay under `maxFrac` —
    * the efficiency half of an ANN operating point (the recall gates
    * are the quality half). Asserted from the REAL candidate frame,
    * never from parameters, so a bucketing regression that silently
    * degrades to near-brute turns the row FALSE.
    */
  private def fractionGate(queries: DataFrame, corpus: DataFrame,
                           maxFrac: Double, candidates: DataFrame,
                           outCol: String = "frac_ok"): DataFrame = {
    val counts = candidates
      .groupBy(col("q_id"))
      .agg(countDistinct(col("neighbor_id")).as("n_cand"))
    queries.select(col("vec_id").as("q_id"))
      .join(counts, Seq("q_id"), "left_outer")
      .crossJoin(broadcast(corpus.agg(count(lit(1)).as("n_corpus"))))
      .select(col("q_id"),
        (coalesce(col("n_cand"), lit(0L)).cast("double") /
          col("n_corpus") <= maxFrac).as(outCol))
  }

  /** Deterministic clustered fixture corpus — the mixture-of-Gaussians
    * regime the driver's near-uniform synthetic embeddings cannot
    * exhibit (where sign-LSH needed ~40-80% of brute's pairs and PQ 6%,
    * PLANS.md sweeps; a clustered corpus is the regime real embedding
    * models produce). Each id joins cluster `vec_id % clusters`; the
    * cluster direction is a ±1 vector from md5 parity (independent
    * random signs → inter-cluster cosine ~N(0, 1/dim) ≈ 0 ± 0.125 at
    * dim 64) plus a small integer-derived jitter (±0.25), so
    * same-cluster cosine ≈ 0.98 and clusters are genuinely separable.
    * Exact integer arithmetic + md5 → bit-identical on every run and
    * engine; a fixture generator, not a scan-path op. The jitter
    * mod-reduces vec_id BEFORE the Knuth multiply (the same
    * overflow-safe ordering uniformHash uses), so the BIGINT product
    * never overflows — equal results, but valid under ANSI mode at
    * any id scale instead of only below ~3.5e9.
    */
  def clusteredCorpus(ids: DataFrame, clusters: Int = 32,
                      dim: Int = 64): DataFrame =
    ids.select(col("vec_id"),
      expr(
        s"""transform(sequence(0, ${dim - 1}), i -> CAST(
           |  (CASE WHEN CAST(conv(substring(md5(concat(
           |           CAST(vec_id % $clusters AS STRING), '_',
           |           CAST(i AS STRING))), 1, 1), 16, 10) AS INT) % 2 = 1
           |        THEN 1.0D ELSE -1.0D END)
           |  + (CAST(((vec_id % 997) * 2654435761L + i * 40503) % 997 AS DOUBLE)
           |     - 498.0D) / 997.0D * 0.5D
           |  AS FLOAT))""".stripMargin).as("embedding"))

  /** LSH recall gate + candidate-fraction gate in one row set — the
    * clustered-corpus operating point: full recall AND a small
    * candidate fraction, both asserted from data.
    */
  def lshRecallWithFraction(queries: DataFrame, corpus: DataFrame, k: Int,
                            floor: Int, maxFrac: Double,
                            tables: Int, bits: Int, dim: Int = 64,
                            seed: Long = 42L): DataFrame = {
    val cands = lshCandidates(queries, corpus, tables, bits, dim, seed)
    val approx = topKPerQuery(cands.withColumn("score", cosine(corpus)), k)
    recall(queries, corpus, k, floor, approx)
      .join(fractionGate(queries, corpus, maxFrac,
        cands.select(col("q_id"), col("neighbor_id"))), Seq("q_id"))
  }

  /** PQ recall gate + candidate-fraction gate (see
    * [[lshRecallWithFraction]]) — the fraction here is the rerank set
    * `cand`/|corpus|, asserted from the actual candidate frame.
    */
  def pqRecallWithFraction(queries: DataFrame, corpus: DataFrame, k: Int,
                           cand: Int, floor: Int, maxFrac: Double,
                           m: Int = 8, ksub: Int = 16, iters: Int = 1,
                           dim: Int = 64): DataFrame = {
    val idx = pqIndexOf(pqCodebooks(corpus, m, ksub, iters, dim))
    val cands = topCandidates(ivfpqScored(queries, corpus,
      singleCell(corpus.sparkSession), idx, nprobe = 1), cand)
    recall(queries, corpus, k, floor, rerankExact(cands, queries, corpus, k))
      .join(fractionGate(queries, corpus, maxFrac, cands), Seq("q_id"))
  }

  /** The COMPOSED index's clustered-corpus operating point — the one
    * you'd deploy at 100 TB — with its multiplied pruning asserted
    * from the real frames, not from parameters: per query,
    * (1) recall_ok — ≥ `floor` of the true top-k survive the composed
    * coarse-probe → ADC → rerank path; (2) coarse_frac_ok — the rows
    * the coarse quantizer actually let into the ADC scan are ≤
    * `maxCoarseFrac` of the corpus (~nprobe/K by bucket mass — and
    * that scan touches m-byte codes, not vectors); (3) cand_frac_ok —
    * the exact float rerank fetches ≤ `maxCandFrac` of the corpus.
    * The product of the two fractions (× the 32× code narrowing) is
    * the composed index's whole efficiency claim; a regression in
    * EITHER stage — a coarse quantizer collapsing to one mega-bucket,
    * a candidate cap silently widening — turns its own column FALSE
    * instead of hiding inside a still-green recall.
    */
  def ivfpqRecallWithFraction(queries: DataFrame, corpus: DataFrame,
                              k: Int, cand: Int, floor: Int,
                              maxCoarseFrac: Double, maxCandFrac: Double,
                              numCentroids: Int = 16, nprobe: Int = 4,
                              coarseIters: Int = 1, m: Int = 8,
                              ksub: Int = 16, iters: Int = 1,
                              dim: Int = 64): DataFrame = {
    val idx = pqIndexOf(pqCodebooks(corpus, m, ksub, iters, dim))
    val scored = ivfpqScored(queries, corpus,
      kmeansCentroids(corpus, numCentroids, coarseIters), idx, nprobe)
    val cands = topCandidates(scored, cand)
    recall(queries, corpus, k, floor, rerankExact(cands, queries, corpus, k))
      .join(fractionGate(queries, corpus, maxCoarseFrac,
        scored.select(col("q_id"), col("neighbor_id")),
        outCol = "coarse_frac_ok"), Seq("q_id"))
      .join(fractionGate(queries, corpus, maxCandFrac, cands,
        outCol = "cand_frac_ok"), Seq("q_id"))
  }

  /** PCA projection of the embedding column — the dimensionality-
    * reduction step a training-data pipeline runs before indexing
    * (cheaper ANN distance kernels, smaller persisted indexes). Pure
    * public-Spark path: `spark.ml.feature.PCA` fits the K principal
    * components in ONE distributed pass (a treeAggregate'd Gramian;
    * the 64×64 eigendecomposition happens on the driver — constant
    * work, corpus-size-independent) and the transform is a per-row
    * matrix-vector product inside the scan projection. Output keeps
    * the (vec_id, embedding) contract — array<float> — so every
    * downstream graft ANN op composes unchanged.
    */
  def pcaProject(corpus: DataFrame, dims: Int): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val vecs = corpus.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>"))
        .as("features"))
    val model = new PCA().setInputCol("features").setOutputCol("pca")
      .setK(dims).fit(vecs)
    model.transform(vecs)
      .select(col("vec_id"),
        vector_to_array(col("pca")).cast("array<float>").as("embedding"))
  }

  /** Neighbor-structure preservation gate for [[pcaProject]] — the
    * claim that matters for the pipeline ("reduce dims, keep the
    * neighbors"), turned into the channel-checkable boolean shape the
    * ANN recall gates use: per query, ≥ `floor` of the full-space
    * exact top-k must survive as the projected space's exact top-k.
    * Both sides are brute exact searches, so the gate isolates the
    * PROJECTION's quality (no index approximation in the loop), and
    * the boolean absorbs the eigensolver's float-level run variance.
    */
  def pcaRecall(queries: DataFrame, corpus: DataFrame, dims: Int,
                k: Int, floor: Int): DataFrame = {
    val proj = pcaProject(corpus, dims)
      .localCheckpoint(true) // one fit; both searches read the result
    val projQueries = proj.join(
      queries.select(col("vec_id").as("qid")),
      col("vec_id") === col("qid"), "left_semi")
    recall(queries, corpus, k, floor, bruteTopK(projQueries, proj, k))
  }
}
