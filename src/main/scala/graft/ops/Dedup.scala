package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline.
  *
  * Scale posture: exact dedup is a single hash-shuffle on a 32-byte key;
  * MinHash-LSH is the banded form — shingle rows → k minhashes via
  * map-side-combined MIN aggregation → band hashes → equi-join WITHIN
  * band buckets. Candidate generation carries ONLY doc ids (shingle sets
  * re-attach to survivors afterwards), never an all-pairs cross join: at
  * 100 TB the join keys hash-partition and each bucket stays small. All
  * hashing is Spark's murmur3/xxhash64 (deterministic) — no RNG state.
  *
  * Performance note (measured at sf0.1, 785 s → seconds): chained
  * array-HOF formulations (shingles array → transform(...minhash) →
  * transform(...bands)) are a trap — CollapseProject inlines the
  * shingle-building expression into every lambda that references it, so
  * the shingle array gets recomputed once per hash function per band
  * (~256× per document), all in interpreted HOF eval. Everything below
  * is therefore explode + aggregate: each value is computed exactly
  * once, in codegen, and partial aggregation shrinks shuffles map-side.
  */
object Dedup {

  /** Exact dedup stats over sha256(text). */
  def exactStats(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(sha2(col("text"), 256)).as("n_unique"))

  /** Exact dedup, keep-first: survivors = min doc_id per content hash. */
  def keepFirst(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("sha"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))

  /** WITHIN-document line self-dedup — the RefinedWeb intra-doc pass
    * [[stripBoilerplateLines]] cannot express: a chorus line repeated
    * INSIDE one document (scraped pagination, templated list items,
    * lyrics refrains) keeps its first occurrence and drops the rest,
    * independent of what any other document contains. Output per doc:
    * line count, kept count, and the cleaned text (first occurrences
    * in original order).
    *
    * Scale shape: ONE corpus scan (literally — `n_lines` rides the
    * same exploded aggregation as the dedup, as the sum of per-line
    * occurrence counts, so there is no second read of `docs` for a
    * join to canonicalize away); the dedup is a map-side-combined
    * min(pos) per (doc_id, line) — the aggregation key CONTAINS doc_id,
    * so a line repeated across the whole corpus can never concentrate
    * on one reducer (the window-free form of "row_number over
    * (doc_id, line)"); reassembly is the same sorted-collect groupBy
    * the boilerplate strip uses, bounded per doc.
    */
  def dedupLinesWithinDoc(docs: DataFrame): DataFrame = {
    val firsts = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n"))
        .as(Seq("pos", "line")))
      .groupBy(col("doc_id"), col("line"))
      .agg(min(col("pos")).as("pos"),
        count(lit(1)).cast("long").as("cnt"))
    firsts
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_lines"),
        count(lit(1)).cast("long").as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(struct(pos, line)))," +
            " x -> x.line)"),
          "\n").as("cleaned"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("cleaned"))
  }

  /** Per-source duplication report — the corpus-health summary a dedup
    * run publishes before anyone decides what to drop: per source, the
    * document count, distinct-content count, duplicate count, and rate.
    * One map-side-combined aggregation over (source, sha) then one over
    * source; all integer counts plus one int/int division, hash-exact.
    * Null-text convention (pinned cross-engine): null text coalesces to
    * '' BEFORE hashing, so every engine counts all null-text docs as
    * one shared empty-content group — without the coalesce, SQL
    * `COUNT(DISTINCT sha256(text))` would silently skip nulls and the
    * unique/dup split would diverge from the grouped form.
    */
  def dupRates(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("source"), sha2(coalesce(col("text"), lit("")), 256)
        .as("sha"))
      .agg(count(lit(1)).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_dup"),
        round((col("n_docs") - col("n_unique")).cast("double") /
          col("n_docs"), 6).as("dup_rate"))

  /** URL canonicalization — the key rule behind crawl-level URL dedup
    * (C4/CCNet dedup by canonical URL before any content pass):
    * lowercase scheme and host, strip the scheme's default port
    * (:443 https / :80 http), drop the fragment, and drop `utm_*`
    * tracking params while preserving the rest of the query. The
    * path/query split happens at the FIRST `?` only — a literal `&`
    * in the path (`/a&b`) and a literal `?` inside a query value
    * (`?a=b?c`) both survive untouched, so distinct URLs can never
    * canonicalize into a collision. A URL with no `scheme://host`
    * prefix (relative path, protocol-relative `//host/p`, garbage)
    * passes through UNCHANGED — it can only dedup against its exact
    * twin, never into a shared sentinel group. Pure codegen'd
    * regexp chains; every regex is RE2-safe so the oracle recomputes
    * the identical canonical form (only the replacement-group SYNTAX
    * differs per engine: `$1` here, `\1` in DuckDB).
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1))
    val host = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val rest = regexp_extract(url, "^[A-Za-z]+://[^/?#]+(.*)$", 1)
    val noFrag = regexp_replace(rest, "#.*$", "")
    // split at the FIRST '?': path is untouched; utm params strip
    // inside the query alone (a leading '&' sentinel makes every param
    // look alike, then the survivors' leading '&' drops)
    val path = regexp_extract(noFrag, "^([^?]*)", 1)
    val query = regexp_extract(noFrag, "^[^?]*\\?(.*)$", 1)
    val qClean = regexp_replace(
      regexp_replace(concat(lit("&"), query), "&utm_[^&]*", ""), "^&", "")
    val tail = when(qClean === "", path)
      .otherwise(concat(path, lit("?"), qClean))
    when(scheme === "" || hostport === "", url)
      .otherwise(concat(scheme, lit("://"), host, tail))
  }

  /** URL-keyed dedup report: one row per canonical URL with its first
    * doc and copy count — the crawl-dedup pass that runs before any
    * content hashing. One map-side-combined aggregation on the
    * canonical string.
    */
  def dedupByUrl(docs: DataFrame, urlCol: Column): DataFrame =
    docs
      .groupBy(canonicalizeUrl(urlCol).as("canonical_url"))
      .agg(min(col("doc_id")).as("first_doc"),
        count(lit(1)).cast("long").as("n_copies"))

  /** Near-dup cluster-SIZE distribution — the shape report a dedup run
    * publishes next to [[dupRates]]: how many clusters of each size the
    * pair set closes into, INCLUDING the singleton row (unpaired docs)
    * so the histogram masses sum to the corpus. Composes
    * [[components]] (pointer-jumping over the pair sliver) with two
    * bounded aggregations; the corpus contributes one count — it never
    * groups or shuffles.
    */
  def clusterSizes(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = components(pairs)
    val hist = labels
      .groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
    val singles = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("n_paired"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_paired")).cast("long").as("n_clusters"))
    hist.unionByName(singles)
  }

  /** Line-level boilerplate removal — the C4/RefinedWeb cleaning step
    * that PER-DOC dedup cannot express: a header/footer line repeated
    * across many documents of one source (nav bars, cookie banners,
    * license footers) is stripped from every doc while the docs
    * themselves survive.
    *
    * Semantics: a line is boilerplate when it occurs in >= `minDocs`
    * DISTINCT documents of the same source; output is each doc's line
    * count, kept-line count, and the cleaned text (kept lines rejoined
    * in original order).
    *
    * Scale posture: the line table shuffles (source, md5(line)) — a
    * fixed-width 32-hex key, never the line text — into one
    * map-side-combined distinct-count aggregation; the resulting
    * boilerplate set is small by construction (only lines crossing the
    * frequency threshold), so the anti-join back onto the line rows
    * broadcasts. Reassembly is one groupBy(doc_id) with a sorted
    * collect — the only wide payload shuffle, bounded by the corpus
    * itself. Docs scan twice (line rows + per-doc line counts), both
    * scan-speed projections.
    */
  def stripBoilerplateLines(docs: DataFrame, minDocs: Long): DataFrame = {
    val lines = docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("h", md5(col("line")))
    val boiler = lines
      .groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("source"), col("h"))
    val kept = lines.join(boiler, Seq("source", "h"), "left_anti")
    val rebuilt = kept
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(struct(pos, line))), x -> x.line)"),
          "\n").as("cleaned"))
    // a doc whose every line is boilerplate vanishes from `kept` — it
    // must come back as (n_kept 0, cleaned '') rather than disappear
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Positioned word n-grams — (doc_id, pos, gram) for every token
    * position anchoring a COMPLETE n-gram. THE single tokenize +
    * window-lead pass behind both shingleRows (content shingles for
    * MinHash/Jaccard) and exactSubstringOverlaps (positioned anchors):
    * one tokenizer definition, so a tokenization change cannot silently
    * diverge the two paths. Tokens explode once; grams assemble with
    * window `lead`s — no array lambda ever re-slices a computed array.
    */
  private[ops] def positionedGrams(docs: DataFrame, n: Int): DataFrame = {
    val pos = docs
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '\\\\w+', 0)"))
          .as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = (0 until n).map(i =>
      if (i == 0) col("tok") else lead(col("tok"), i).over(w))
    pos
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", parts: _*).as("gram"),
        parts.last.isNotNull.as("complete"))
      .filter(col("complete"))
      .select(col("doc_id"), col("pos"), col("gram"))
  }

  /** Distinct word n-gram shingles as ROWS (doc_id, shingle). */
  def shingleRows(docs: DataFrame, n: Int = 3): DataFrame =
    positionedGrams(docs, n)
      .select(col("doc_id"), col("gram").as("shingle"))
      .distinct()

  /** Shingle SETS (doc_id, shingles array) for verification joins. */
  def shingleSets(docs: DataFrame, n: Int = 3): DataFrame =
    shingleRows(docs, n)
      .groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("shingles"))

  /** Candidate pairs from banded MinHash-LSH, exact-Jaccard-verified.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b for every candidate
    * pair sharing ≥1 band bucket; `threshold` filters verified near-dups.
    * k = b*r hash functions; the (b, r) choice tunes the S-curve.
    *
    * `maxBucket` bounds the per-bucket pair explosion BY CONSTRUCTION:
    * buckets larger than the cap are excluded from pair generation and
    * the drop shouts through LshGuard's observe metrics (never a silent
    * recall loss). A bucket only outgrows the cap on degenerate content
    * — boilerplate/identical docs collide in every band — which belongs
    * to exact dedup upstream, not to a 10^12-pair Generate here.
    */
  def minhashPairs(docs: DataFrame,
                   shingleN: Int = 3,
                   b: Int = 8,
                   r: Int = 4,
                   threshold: Double = 0.5,
                   maxBucket: Int = 1000): DataFrame = {
    val bandRows = minhashBandRows(docs, shingleN, b, r)

    // bucket-grouped candidate generation: ONE pass over bandRows. A
    // bandRows-self-join would duplicate the whole window+minhash-agg
    // subtree in the plan and, at 100 TB, either broadcast the full
    // corpus band table or shuffle it twice; grouping by bucket shuffles
    // the (band, doc_id) rows once and explodes each bucket's sorted id
    // list into its i<j pairs — capped and drop-accounted by the shared
    // LshGuard skeleton BEFORE the explode is ever planned.
    val candidates = LshGuard.pairsFromIdBuckets(
      bandRows
        .groupBy(col("band_idx"), col("band_hash"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids")),
      maxBucket, "minhash")

    verifyByJaccard(docs, candidates, shingleN, threshold)
  }

  /** The banded MinHash index rows (doc_id, band_idx, band_hash) — the
    * table a production pipeline PERSISTS so daily increments join
    * against history without re-banding it.
    *
    * minhash j of doc = MIN over shingles of murmur3(shingle, j), all k
    * of them as aggregate COLUMNS of one groupBy(doc_id) pass: the map
    * side combines k running minima per doc locally, so the shuffle
    * carries one k-column row per (doc × map partition) — k× less
    * aggregation input than exploding k rows per shingle (measured
    * 12.3 s → ~4 s at sf0.1; was 23% of the whole bench). Band i's hash
    * folds its r minhashes (j ascending) + the band index; the b band
    * columns unpivot to rows only AFTER aggregation, when there are
    * just b rows per document left.
    */
  def minhashBandRows(docs: DataFrame, shingleN: Int = 3, b: Int = 8,
                      r: Int = 4): DataFrame = {
    val k = b * r
    val minCols = (0 until k).map(j =>
      min(hash(col("shingle"), lit(j))).as(s"mh$j"))
    val mh = shingleRows(docs, shingleN)
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
    val bandStructs = (0 until b).map { i =>
      val members = (i * r until (i + 1) * r).map(j => col(s"mh$j"))
      struct(lit(i).as("band_idx"),
        xxhash64(members :+ lit(i): _*).as("band_hash"))
    }
    mh
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_idx").as("band_idx"),
        col("bb.band_hash").as("band_hash"))
  }

  /** Exact incremental dedup: flag each NEW document whose exact
    * content already exists in history — one hash equi-join on
    * sha256(text), never touching history text twice (in production the
    * history side is the persisted (sha, …) table). At 100 TB the join
    * keys hash-partition; the new batch is orders smaller than history,
    * so the new side broadcasts when small enough and AQE picks that up.
    */
  def incrementalExact(newDocs: DataFrame, history: DataFrame): DataFrame =
    newDocs.select(col("doc_id"), sha2(col("text"), 256).as("sha"))
      .join(
        history.select(sha2(col("text"), 256).as("sha"))
          .distinct().withColumn("seen", lit(true)),
        Seq("sha"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("seen"), lit(false)).as("dup_of_history"))

  /** Incremental MinHash near-dup: candidate pairs ONLY across the
    * new-batch × history boundary — the daily-crawl production shape
    * (history's band rows come from the persisted index, new docs band
    * once, nothing re-pairs history against itself). History buckets
    * are capped through the shared LshGuard skeleton with minSize=1 (a
    * single history doc per bucket still matches a new doc); the
    * increment is orders smaller than history, so the per-bucket join
    * fan-out is bounded by cap × new-bucket size. Verification is the
    * same candidate-bounded exact-Jaccard pass as every dedup path.
    * Caller contract: the two id spaces are disjoint.
    */
  def incrementalMinhash(newDocs: DataFrame, history: DataFrame,
                         shingleN: Int = 3, b: Int = 8, r: Int = 4,
                         threshold: Double = 0.5,
                         maxBucket: Int = 1000): DataFrame =
    incrementalMinhashWithIndex(newDocs,
      minhashBandRows(history, shingleN, b, r), history,
      shingleN, b, r, threshold, maxBucket)

  /** Incremental MinHash against a PRELOADED history band index — the
    * true production shape behind [[incrementalMinhash]]: history
    * bands ONCE ([[minhashBandRows]]), the index persists as plain
    * parquet, and each daily increment bands only itself and joins the
    * loaded rows (nothing re-reads or re-shingles history text for
    * candidate generation — only verification fetches the candidate
    * docs). BOTH sides run through the capped skeleton (minSize=1 — a
    * single doc per bucket still matches across the boundary): a
    * boilerplate-flooded INCREMENT is just as degenerate as
    * boilerplate history, and an uncapped new side joining a
    * cap-sized history bucket would plan |new_bucket| × cap rows
    * with no shout. With both caps the per-bucket join is ≤ cap² by
    * construction, and every drop goes through LshGuard's metrics.
    */
  def incrementalMinhashWithIndex(newDocs: DataFrame,
                                  historyBands: DataFrame,
                                  history: DataFrame,
                                  shingleN: Int = 3, b: Int = 8,
                                  r: Int = 4, threshold: Double = 0.5,
                                  maxBucket: Int = 1000): DataFrame = {
    def capped(bands: DataFrame, idAlias: String, kind: String) =
      LshGuard.capBuckets(
        bands
          .groupBy(col("band_idx"), col("band_hash"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ids")),
        "ids", maxBucket, kind, minSize = 1)
        .select(col("band_idx"), col("band_hash"),
          explode(col("ids")).as(idAlias))
    val nb = capped(minhashBandRows(newDocs, shingleN, b, r), "new_id",
      "minhash_inc")
    val hist = capped(historyBands, "old_id", "minhash_idx")
    val candidates = nb.join(hist, Seq("band_idx", "band_hash"))
      .select(least(col("new_id"), col("old_id")).as("id_a"),
        greatest(col("new_id"), col("old_id")).as("id_b"))
      .distinct()
    verifyByJaccard(newDocs.unionByName(history), candidates, shingleN,
      threshold)
  }

  /** Incremental EXACT n-gram Jaccard: the counting join
    * ([[ngramJaccardPairs]]) restricted to the new-batch × history
    * boundary — cross-side bucket products sum to the exact overlap
    * count, so the daily increment gets the same no-S-curve guarantee
    * as the full join at any threshold, while history never re-pairs
    * against itself. Both sides' buckets cap through the shared
    * LshGuard skeleton (minSize=1 — one history doc per bucket still
    * matches a new doc; per-shingle join fan-out ≤ cap² by
    * construction) and ids from EITHER side's dropped buckets taint
    * their pairs away entirely: recall loss shouts, reported values
    * never undercount. Caller contract: the two id spaces are
    * disjoint.
    */
  def incrementalNgramJaccard(newDocs: DataFrame, history: DataFrame,
                              shingleN: Int = 3, threshold: Double = 0.5,
                              maxBucket: Int = 1000): DataFrame = {
    val newBuckets = shingleRows(newDocs, shingleN)
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("new_ids"))
    val histBuckets = shingleRows(history, shingleN)
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("old_ids"))
    // each side's bucket shuffle is reused across its capped and
    // tainted branches, as in ngramJaccardPairs
    val taintedNew = newBuckets.filter(size(col("new_ids")) > maxBucket)
      .select(explode(col("new_ids")).as("tid")).distinct()
    val taintedOld = histBuckets.filter(size(col("old_ids")) > maxBucket)
      .select(explode(col("old_ids")).as("tid")).distinct()
    val counts = LshGuard
      .capBuckets(newBuckets, "new_ids", maxBucket, "ngram_inc_new",
        minSize = 1)
      .join(LshGuard.capBuckets(histBuckets, "old_ids", maxBucket,
        "ngram_inc_hist", minSize = 1), "shingle")
      .select(explode(col("new_ids")).as("new_id"), col("old_ids"))
      .select(col("new_id"), explode(col("old_ids")).as("old_id"))
      .groupBy(col("new_id"), col("old_id")).agg(count(lit(1)).as("c"))
    val sizes = shingleRows(newDocs.unionByName(history), shingleN)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    counts
      .join(taintedNew, col("new_id") === col("tid"), "left_anti")
      .join(taintedOld, col("old_id") === col("tid"), "left_anti")
      .join(sizes.select(col("doc_id").as("new_id"), col("sz").as("sz_a")),
        "new_id")
      .join(sizes.select(col("doc_id").as("old_id"), col("sz").as("sz_b")),
        "old_id")
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("new_id"), col("old_id")).as("id_a"),
        greatest(col("new_id"), col("old_id")).as("id_b"), col("jaccard"))
  }

  /** Prefix-containment dedup — the truncation-dup detector: pairs
    * (short, long) where the short doc's ENTIRE token list is the first
    * |short| tokens of the long one (truncated re-crawls, cut-off
    * mirrors). Exact dedup misses these (different hashes) and MinHash
    * usually does too (a short prefix of a long doc has low Jaccard),
    * so this is its own mode, not a variant.
    *
    * Shape: any containing pair shares its first `minPrefix` tokens, so
    * candidates come from ONE xxhash64(first-minPrefix-tokens) bucket
    * key — the same capped/loud LshGuard skeleton as every other pair
    * generator (bucket rows carry (n_tok, doc_id) only) — and
    * containment is verified exactly on candidate docs via the shared
    * melt-join (token arrays attach once, bounded by candidate count).
    * Docs under `minPrefix` tokens are out of scope (documented floor:
    * tiny docs belong to exact/near dedup).
    */
  def prefixContained(docs: DataFrame, minPrefix: Int = 8,
                      maxBucket: Int = 1000): DataFrame = {
    val toks = expr("regexp_extract_all(lower(text), '\\\\w+', 0)")
    val keyed = docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= minPrefix)
      .select(col("doc_id"), size(col("toks")).as("n"),
        xxhash64(concat_ws(" ",
          slice(col("toks"), 1, minPrefix))).as("pk"))
    val candidates = LshGuard.capBuckets(
      keyed.groupBy(col("pk"))
        .agg(sort_array(collect_list(struct(col("n"), col("doc_id")))).as("ds")),
      "ds", maxBucket, "prefix")
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(col("i"), col("a"), posexplode(col("ds")).as(Seq("j", "b")))
      .filter(col("i") < col("j") && col("a.n") < col("b.n"))
      .select(col("a.doc_id").as("id_short"), col("b.doc_id").as("id_long"))
      .distinct()
    attachPairSides(candidates, "id_short", "id_long",
      docs.select(col("doc_id"), toks.as("toks"))
        .join(pairIds(candidates, "id_short", "id_long"),
          Seq("doc_id"), "left_semi"),
      "toks")
      .filter(size(col("left_payload")) < size(col("right_payload")) &&
        expr("slice(right_payload, 1, size(left_payload))") === col("left_payload"))
      .select(col("id_short"), col("id_long"),
        size(col("left_payload")).cast("long").as("n_short"))
  }

  /** Exact n-gram Jaccard near-dup — the inverted-index COUNTING join
    * (the Vernica et al. MapReduce set-similarity family): EVERY pair
    * with word-n-gram Jaccard ≥ `threshold` is reported with its exact
    * value, no probabilistic recall assumption. MinHash's S-curve
    * leaves a weak-recall band below ~0.85 where true pairs can slip;
    * this channel is exact by construction, so it is the right tool
    * when the threshold sits below LSH's reliable band.
    *
    * Shape: every shingle bucket explodes into its i<j pairs WITH
    * multiplicity, and a map-side-combined `count` per (id_a, id_b) is
    * then exactly |A∩B| (shingle rows are distinct per doc, so each
    * common shingle contributes one row). J = c / (|A| + |B| − c) needs
    * only the slim per-doc size table — the whole pipeline is integer
    * columns through codegen'd Generates and hash aggregation; nothing
    * ever shuffles shingle STRINGS per pair. A prefix-filter variant
    * (rank shingles rare-first, pair only within |s| − ⌈t·|s|⌉ + 1
    * prefixes, then verify sets) was measured 4× slower here: at low
    * thresholds the prefix covers most of each doc, and the set-verify
    * melt-join shuffles ~50-element string arrays per candidate —
    * 582k candidates at sf0.1 made verification, not candidate
    * generation, the bottleneck.
    *
    * Cap semantics (precision-safe): a bucket larger than `maxBucket`
    * is dropped loudly via the shared LshGuard skeleton, and every id
    * it held is TAINTED — pairs touching a tainted id are removed
    * entirely rather than reported with an undercounted overlap. A
    * surviving pair's ids sat in no dropped bucket, so every common
    * shingle's bucket survived and its count is exact: caps cost
    * recall (shouted), never a wrong value. Degenerate boilerplate
    * floods therefore converge to an empty, loudly-accounted result —
    * exact-dedup upstream remains the fix, as with every generator.
    *
    * At 100 TB: one shuffle groups shingle rows into buckets, pair
    * multiplicity rows partial-aggregate before their shuffle, and the
    * bucket cap bounds the explode at cap·|rows|/2 by construction —
    * nothing is all-pairs, and no stage's width depends on corpus luck.
    */
  def ngramJaccardPairs(docs: DataFrame,
                        shingleN: Int = 3,
                        threshold: Double = 0.5,
                        maxBucket: Int = 1000): DataFrame = {
    val rows = shingleRows(docs, shingleN)
    val sizes = rows.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val buckets = rows.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    // ids from dropped buckets. Plan-audited (PLANS.md r8): the groupBy
    // SHUFFLE is a ReusedExchange across this branch and the capped
    // branch — scan, tokenize, partial agg, and the exchange write run
    // once; only the final collect_list fold re-runs over the shuffled
    // rows per branch
    val tainted = buckets.filter(size(col("ids")) > maxBucket)
      .select(explode(col("ids")).as("tid")).distinct()
    val counts = LshGuard.capBuckets(buckets, "ids", maxBucket, "ngram_jaccard")
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("i"), col("id_a"), posexplode(col("ids")).as(Seq("j", "id_b")))
      .filter(col("i") < col("j"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("c"))
    counts
      .join(tainted, col("id_a") === col("tid"), "left_anti")
      .join(tainted, col("id_b") === col("tid"), "left_anti")
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact-substring overlap dedup — the Lee et al. ("Deduplicating
    * Training Data Makes Language Models Better") ExactSubstr mode:
    * report every cross-doc pair sharing a VERBATIM run of ≥ k tokens,
    * with the maximal shared run length. Exact dedup misses these
    * (different doc hashes), MinHash usually does too (a 50-token quote
    * inside two long unrelated docs has tiny Jaccard), so copied
    * passages, syndicated paragraphs and license blocks are this
    * operator's own mode.
    *
    * The reference algorithm is a single-node suffix array; the
    * Spark-native shape is anchor-and-extend, fully relational:
    *
    *  1. every token position anchors one k-gram, hashed to a 32-hex
    *     key — ONE linear explode + window-lead pass (shingleRows'
    *     codegen shape, positions kept);
    *  2. anchor buckets group by hash (map-side combined; fixed-width
    *     shuffle key), capped + LOUD via the shared [[LshGuard]]
    *     skeleton — a boilerplate k-gram shared by 10^5 docs cannot
    *     Generate 10^10 pairs silently;
    *  3. matched anchors land on diagonals (pos_a − pos_b constant
    *     along a shared run): per (pair, diagonal), the longest
    *     CONSECUTIVE anchor run of length r is exactly a shared
    *     r + k − 1 token substring — gaps-and-islands over a window
    *     whose partitions are bounded by the overlap length itself,
    *     never a global or per-doc window.
    *
    * No extension step re-reads document text: maximality falls out of
    * the diagonal run arithmetic, so the only payload ever shuffled is
    * (doc_id, pos) pairs. At 100 TB the anchor pass is one linear
    * shuffle of the token stream — the same cost class as the MinHash
    * shingle pass — and everything after is bounded by true matches
    * plus the bucket cap.
    */
  def exactSubstringOverlaps(docs: DataFrame, k: Int = 8,
                             maxBucket: Int = 64): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val anchors = positionedGrams(docs, k)
      .select(col("doc_id"), col("pos"), md5(col("gram")).as("h"))
    val buckets = anchors
      .groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("members"))
    val matches = LshGuard.capBuckets(buckets, "members", maxBucket, "substr")
      .select(col("members"), posexplode(col("members")).as(Seq("i", "x")))
      .select(col("i"), col("x"), posexplode(col("members")).as(Seq("j", "y")))
      .filter(col("i") < col("j") && col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        when(col("x.doc_id") < col("y.doc_id"), col("x.pos"))
          .otherwise(col("y.pos")).as("pos_a"),
        when(col("x.doc_id") < col("y.doc_id"), col("y.pos"))
          .otherwise(col("x.pos")).as("pos_b"))
    // one (id_a, id_b, pos_a, pos_b) per matched anchor: pos determines
    // the k-gram, so no distinct is needed and row_number is stable
    matches
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("island",
        col("pos_a") - row_number().over(
          Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
            .orderBy(col("pos_a"))))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("island"))
      .agg((count(lit(1)) + (k - 1)).as("run"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("run")).cast("long").as("overlap_tokens"))
  }

  /** Distinct ids appearing on either side of a candidate pair set. */
  private def pairIds(candidates: DataFrame, leftCol: String,
                      rightCol: String): DataFrame =
    candidates
      .select(explode(array(col(leftCol), col(rightCol))).as("doc_id"))
      .distinct()

  /** Shared melt-join: attach a per-doc payload to BOTH sides of each
    * candidate pair with the payload subtree appearing ONCE in the plan
    * — pairs melt to two (pair, side, doc_id) rows, join the payload a
    * single time, fold back per pair. Joining the payload twice (a
    * left side and a right side) would re-run its whole subtree per
    * side — at 100 TB that doubles the dominant verification cost
    * (measured 2.2 s → 1.5 s even at a 400-doc profile scale).
    * Candidates are distinct ordered pairs, so each group holds exactly
    * one row per side — first(ignoreNulls) is deterministic; a doc
    * MISSING from `payload` leaves its side null and the caller's
    * filter drops the pair, matching inner-join semantics.
    */
  private def attachPairSides(candidates: DataFrame, leftCol: String,
                              rightCol: String, payload: DataFrame,
                              payloadCol: String,
                              pinWidth: Option[Int] = None): DataFrame = {
    val sides = candidates.select(explode(array(
        struct(col(leftCol), col(rightCol), col(leftCol).as("doc_id")),
        struct(col(leftCol), col(rightCol), col(rightCol).as("doc_id")))).as("s"))
      .select(col(s"s.$leftCol").as(leftCol), col(s"s.$rightCol").as(rightCol),
        col("s.doc_id"))
    val joined = sides.join(payload, "doc_id")
    // pinWidth (r18, §2.4 share-one-exchange): a caller that needs an
    // AQE-exempt output width (verifyByJaccard's per-pair set math)
    // previously repartitioned AFTER this fold — a second exchange on
    // the same keys. Pinning BEFORE the groupBy makes the user exchange
    // the one the aggregation reuses: same pinned width, one exchange.
    val pinned = pinWidth
      .map(w => joined.repartition(w, col(leftCol), col(rightCol)))
      .getOrElse(joined)
    pinned
      .groupBy(col(leftCol), col(rightCol))
      .agg(
        first(when(col("doc_id") === col(leftCol), col(payloadCol)),
          ignoreNulls = true).as("left_payload"),
        first(when(col("doc_id") === col(rightCol), col(payloadCol)),
          ignoreNulls = true).as("right_payload"))
  }

  /** Exact-Jaccard verification of LSH candidate `(id_a, id_b)` pairs,
    * shared by the MinHash and SimHash skeletons.
    *
    * Shingle sets attach ONLY for candidate docs, semi-filtering at the
    * SCAN (not above the aggregate, where the optimizer leaves it — the
    * window's `_we` Filter blocks PushDownLeftSemiAntiJoin): the sets
    * path then explodes/window-sorts just the candidate docs, so at
    * 100 TB the verification cost is bounded by the candidate count,
    * not the corpus.
    *
    * The sets subtree appears ONCE in the plan: pairs melt to two
    * (pair, side, doc_id) rows, join the sets a single time, and fold
    * back per pair. Joining `sets` twice (an id_a side and an id_b
    * side) re-runs the whole shingle pipeline — posexplode, window
    * sort, two aggregations — per side; at 100 TB that doubles the
    * dominant verification cost (measured 2.2 s → 1.5 s even at the
    * 400-doc profile scale).
    */
  private def verifyByJaccard(docs: DataFrame, candidates: DataFrame,
                              shingleN: Int, threshold: Double): DataFrame = {
    // Explicit width on the candidate docs BEFORE tokenize/shingle/agg:
    // hashpartitioning(doc_id, n) already satisfies the shingle window's
    // required distribution, so no AQE-owned exchange exists for byte-
    // based coalescing to collapse — without this the whole per-doc
    // tokenize+window+collect pipeline ran as ONE task (text bytes are
    // tiny; the CPU per row is not). A QUARTER of the session shuffle
    // width: pinned partitioning exempts ~6 downstream stages from AQE
    // coalescing, so full width pays small-stage scheduling overhead on
    // every verify (measured +0.3–2 s/query at 32), while the quarter
    // keeps the single-thread worst case bounded AND still scales
    // proportionally with cluster size.
    val nVerify =
      math.max(2, docs.sparkSession.sessionState.conf.numShufflePartitions / 4)
    val sets = shingleSets(
      docs.join(pairIds(candidates, "id_a", "id_b"), Seq("doc_id"), "left_semi")
        .repartition(nVerify, col("doc_id")),
      shingleN)
    // Pinned width ON the fold's own exchange (pinWidth — r18): AQE's
    // byte-based coalescing sees a few KB of candidate rows and would
    // collapse the per-pair set math to ONE task, but each row costs an
    // array_intersect+array_union over full shingle sets — the bench's
    // single-task 0.5–3 s verify stage (and its JIT-sensitivity) traced
    // exactly here. A user-specified partition count is exempt from AQE
    // coalescing; riding it on the pair fold's aggregation exchange
    // (instead of a second repartition AFTER the fold, as before) keeps
    // the verify's parallelism following candidate count at one
    // exchange instead of two.
    attachPairSides(candidates, "id_a", "id_b",
        sets.select(col("doc_id"), col("shingles")), "shingles",
        pinWidth = Some(nVerify))
      .withColumn("jaccard",
        size(array_intersect(col("left_payload"), col("right_payload")))
          .cast("double") /
          size(array_union(col("left_payload"), col("right_payload"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash: 64-bit signature from per-bit vote sums over token
    * hashes — explode + 64 codegen'd conditional sums in ONE
    * aggregation pass.
    *
    * The token hash is md5-derived (two 32-bit hex halves recombined
    * into one signed 64-bit word) rather than xxhash64: equally
    * uniform for simhash voting, but REPRODUCIBLE in ANSI SQL — the
    * driver's DuckDB oracle recomputes every signature bit for bit
    * from the same md5, which a Spark-only hash cannot offer. The
    * cost (md5 vs xxhash64 per distinct token) is noise next to the
    * banding/verify stages downstream.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(expr("array_distinct(regexp_extract_all(lower(text), '\\\\w+', 0))")).as("tok"))
      .select(col("doc_id"),
        expr("shiftleft(cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint), 32)" +
          " | cast(conv(substring(md5(tok), 9, 8), 16, 10) as bigint)").as("h"))
    val votes = (0 until 64).map { bit =>
      sum(expr(s"CAST(((h >> $bit) & 1) * 2 - 1 AS BIGINT)")).as(s"v$bit")
    }
    val sig = (0 until 64).map { bit =>
      when(col(s"v$bit") > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    toks
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash-banded near-dup pairs — the signature-side LSH: split each
    * 64-bit simhash into `b` bit-bands; docs sharing any band bucket are
    * candidates (same bucket-grouped skeleton as `minhashPairs` — one
    * shuffle of (band, bits, doc_id) rows, no self-join); candidates
    * pass a Hamming gate (`bit_count(sig_a ^ sig_b) <= maxHamming`, the
    * Manku-et-al fingerprint-dedup shape) and are then exact-Jaccard
    * verified like every other dedup path.
    *
    * Recall contract (pigeonhole): a pair within Hamming distance d
    * dirties at most d blocks, so it shares a CLEAN `blocksPerKey`-sized
    * block combination whenever `maxHamming <= b - blocksPerKey`
    * (asserted). Two operating points, both spec-asserted against brute
    * all-pairs Hamming:
    *  - `blocksPerKey=1` (default): one key per block — b=8 gives
    *    radius 7 with 8-bit keys, the fingerprint (small-radius) dedup.
    *  - `blocksPerKey=2`: every C(b,2) block CONCATENATION is a key
    *    (the Manku-et-al table trick) — radius b−2, so b=16 covers the
    *    measured testdata near-dup band (d≈12) with radius 14. The key
    *    is 2·(64/b) bits wide; per-doc row count grows to C(b,2), and
    *    bucket population scales as N/2^keybits — the maxBucket guard
    *    (and at true corpus scale, a wider signature) bounds the
    *    explosion. For set-similarity thresholds `minhashPairs` remains
    *    the right op; this is the Hamming-radius search.
    */
  def simhashPairs(docs: DataFrame,
                   b: Int = 8,
                   maxHamming: Int = 7,
                   shingleN: Int = 3,
                   threshold: Double = 0.5,
                   maxBucket: Int = 1000,
                   blocksPerKey: Int = 1): DataFrame = {
    require(64 % b == 0, "block count must divide 64")
    require(blocksPerKey == 1 || blocksPerKey == 2,
      "1 or 2 blocks per key supported")
    require(maxHamming <= b - blocksPerKey,
      s"radius guarantee needs maxHamming <= b - blocksPerKey " +
        s"(= ${b - blocksPerKey}); raise b or lower maxHamming")
    val width = 64 / b
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sig = simhash(docs)
    val combos: Seq[Seq[Int]] =
      if (blocksPerKey == 1) (0 until b).map(Seq(_))
      else for { i <- 0 until b; j <- (i + 1) until b } yield Seq(i, j)
    // ONE generic shift expression over an exploded literal combo table
    // — not one expanded expression tree per combo: at blocksPerKey=2
    // the C(16,2)=120 per-combo trees compiled to ~10 s of first-run
    // codegen/JIT (the r7 "unstable even isolated" finding traced
    // there); the literal array constant-folds and the per-row work is
    // two shifts parameterized by the combo's block offsets
    val comboStructs = combos.zipWithIndex.map { case (blocks, ci) =>
      struct(lit(ci).as("ci"), lit(blocks.head * width).as("s0"),
        lit(if (blocks.size > 1) blocks(1) * width else -1).as("s1"))
    }
    val bandRows = sig
      .select(col("doc_id"), col("simhash"), explode(array(comboStructs: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.ci").as("band_idx"),
        expr(s"""CASE WHEN bb.s1 < 0 THEN (simhash >> bb.s0) & $mask
                 |ELSE ((((simhash >> bb.s0) & $mask) << $width)
                 |      | ((simhash >> bb.s1) & $mask)) END""".stripMargin)
          .as("band_bits"))
    // signatures ride into the buckets so the Hamming gate needs no
    // extra join — each bucket row is (id, sig), still narrow; the
    // shared LshGuard skeleton caps and drop-accounts the buckets, and
    // the chained-posexplode pair generation (codegen Generates, i<j —
    // see LshGuard.pairsFromIdBuckets for why not a transform(slice)
    // lambda) + Hamming gate stay op-specific
    val candidates = LshGuard.capBuckets(
      bandRows
        .groupBy(col("band_idx"), col("band_bits"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ds")),
      "ds", maxBucket, "simhash")
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(col("i"), col("a"), posexplode(col("ds")).as(Seq("j", "b")))
      .filter(col("i") < col("j"))
      .filter(expr(s"bit_count(a.simhash ^ b.simhash) <= $maxHamming"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyByJaccard(docs, candidates, shingleN, threshold)
  }

  /** Connected components over verified near-dup pairs — the clustering
    * step a real curation pipeline runs AFTER pair generation: transitive
    * chains (a~b, b~c) must collapse to one cluster with one kept
    * representative, which per-pair drop rules cannot express. Label =
    * min reachable doc id, via iterative min-label propagation (the
    * standard distributed CC shape): each round joins the (small) edge
    * set against current labels, takes the per-node min of neighbor
    * labels, and converges when no label changes. Each round
    * `localCheckpoint`s so lineage stays flat — the GraphX/Pregel
    * pattern. At 100 TB the pair set is orders smaller than the corpus
    * (it only holds near-duplicates), so every join here is small-side.
    *
    * Rounds count from the fused init: the label init IS propagation
    * round 1, and loop iteration i (0-based) runs round i+2. So
    * `maxIters` bounds the LOOP — at most `maxIters` + 1 propagation
    * rounds, the init included, run before non-convergence fails.
    *
    * `pointerJump` (default on) adds the doubling step after each
    * propagation ONCE the graph has proven deep: from loop iteration
    * `jumpAfter` on, i.e. propagation round > `jumpAfter` + 1 —
    * labels shortcut through themselves (new label = label(label), one
    * self-join — sound because label(x) ≤ x is an invariant of
    * min-propagation, so chains only contract). Rounds drop from
    * O(diameter) to O(log diameter) at the cost of one extra join per
    * jumping round — the difference between ~8 and ~100 rounds on a
    * degenerate boilerplate chain, where each round is a full shuffle
    * barrier at scale. Near-dup clusters are usually shallow and
    * converge during the plain-propagation prefix without ever paying
    * for a self-join (measured: always-on jumping cost +20% on the
    * shallow bench corpus; deferred jumping costs nothing there).
    */
  def components(pairs: DataFrame, maxIters: Int = 20,
                 pointerJump: Boolean = true,
                 jumpAfter: Int = 2): DataFrame = {
    // localCheckpoint (not persist) each round: persist caches EXECUTION
    // but the logical plan still embeds the prior round's plan 2-3×, so
    // analyzer/optimizer time grows exponentially with iterations
    // (measured: the whole loop tripled). Checkpointing truncates the
    // plan to a flat LogicalRDD; the superseded round's blocks are
    // released explicitly below, so storage stays at one label table.
    // NO pre-checkpoint repartition(src) (r17 added one; r18 A/B
    // REVERTED it — plans/r18/jobprofile_copartition_*.txt): the
    // claimed per-round exchange elimination never materialized in the
    // measured record — job count was 1 HIGHER with it, total shuffle
    // bytes identical (4.4 MB), and 6-rep mins slower (2.91 vs
    // 2.72 s components, 3.00 vs 2.93 keep_best_incremental) — the
    // label sliver is small enough that AQE broadcasts the per-round
    // joins, so the setup exchange bought nothing and cost a job.
    // min/Long labels are order-independent, so partitioning cannot
    // move a bit either way.
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // Round 1 FUSED into the label init (r18, §1.2 job-count reduction):
    // with labels₀ = id, round 1's propagation is least(id, min incoming
    // src) — computable in the SAME aggregation that enumerates the node
    // set (every node appears as a dst of the symmetric edge set), so
    // the init job IS the first Lloyd-style round and the loop starts
    // one round ahead. Same fixpoint, bit-identical labels.
    var labels = edges
      .groupBy(col("dst").as("id"))
      .agg(min(col("src")).as("ms"))
      .select(col("id"), least(col("id"), col("ms")).as("label"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // every id appears as a dst with >= 1 neighbor (the edge set is
      // symmetric), so the propagation covers every node — inner join;
      // the changed flag rides along so convergence needs no extra join
      val prop = edges
        .join(labels.select(col("id").as("src"), col("label").as("l")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("l")).as("nl"))
      // LAZY checkpoints (r18, §1.2 job-count reduction): the
      // convergence count below is a FULL count (no limit — a limit
      // could early-exit and leave the checkpoint partial), so that one
      // job both materializes the round's label table AND answers
      // convergence — the eager-checkpoint + count pair this replaces
      // paid two scheduled jobs per round for the same work. The
      // superseded tables are released only AFTER the count has
      // materialized their successor.
      val stepped = labels
        .join(prop, Seq("id"))
        .select(col("id"), least(col("label"), col("nl")).as("label"),
          (col("nl") < col("label")).as("changed"))
        .localCheckpoint(false)
      val next =
        if (!pointerJump || iter < jumpAfter) stepped
        else {
          // doubling: label ← label(label). The self-join reads the
          // checkpoint-marked stepped table twice (each partition is
          // computed once and persisted by the checkpoint machinery,
          // then read); every label value is itself a node id, so the
          // inner join keeps all rows
          stepped
            .join(stepped.select(col("id").as("label"),
              col("label").as("ll")), Seq("label"))
            .select(col("id"), col("ll").as("label"),
              (col("changed") || col("ll") < col("label")).as("changed"))
            .localCheckpoint(false)
        }
      converged = next.filter(col("changed")).count() == 0
      releaseCheckpoint(labels)
      if (!(next eq stepped)) releaseCheckpoint(stepped)
      labels = next // extra `changed` column is ignored by the next round
      iter += 1
    }
    // silent non-convergence would hand the caller a split cluster that
    // reads like a correct answer — fail loudly instead
    require(converged,
      s"components: not converged after $maxIters rounds — cluster diameter exceeds maxIters" +
        (if (pointerJump) "" else " (pointerJump=true converges in O(log diameter))"))
    releaseCheckpoint(edges)
    // the returned frame reads the FINAL checkpoint — that one stays
    labels.select(col("id").as("doc_id"), col("label").as("component"))
  }

  /** Canonical-document selection over NEAR-dup components — the keep
    * rule a production pipeline actually wants: within each cluster of
    * near-duplicates, keep the HIGHEST-scoring member (longest,
    * highest quality gate, freshest crawl — caller's `score` column),
    * not the lowest id. [[keepFirst]] is the exact-hash analog; this
    * one closes transitively over the verified pair set via
    * [[components]], so a~b, b~c keeps ONE of {a,b,c} even when a and
    * c never paired. Ties break to the smallest doc_id (one
    * lexicographic struct max — deterministic survivors, no arg_max
    * nondeterminism). Output: one row per cluster
    * (component, doc_id, score, n_members); singletons (never paired)
    * pass through as their own component.
    *
    * Scale shape: the corpus never groups and never shuffles — the
    * label table is pair-sliver-sized, so the membership join AND the
    * singleton anti-join both broadcast it while the corpus streams;
    * only the sliver pays the per-component aggregate.
    */
  /** Hint policy for the components sliver and its derived frames:
    * broadcast WHEN IT FITS. comp is a checkpointed LogicalRDD with no
    * stats — unhinted, the static planner default-sizes it huge and
    * sort-merge-shuffles the CORPUS side (the 100 TB failure this op
    * exists to avoid). But comp scales with the corpus's DUPLICATED
    * fraction (30%+ on a raw crawl), not a fixed sliver — a forced
    * broadcast there OOMs the driver where an SMJ would merely be
    * slow. So: one cheap count of the checkpoint decides the policy
    * for every derived join (members/anti-join sides are ⊆ comp), with
    * a loud stderr note when the hint is withheld.
    */
  private[ops] def sliverHint(comp: DataFrame, what: String): DataFrame => DataFrame = {
    val conf = comp.sparkSession.conf
    val thresholdStr =
      conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    val threshold =
      try {
        if (thresholdStr.startsWith("-")) -1L
        else org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(thresholdStr)
      } catch { case scala.util.control.NonFatal(_) => 10L * 1024 * 1024 }
    val rows = comp.count() // checkpoint read — no recompute
    val estBytes = rows * 64L // (long, long) row + broadcast-map overhead
    if (threshold > 0 && estBytes <= threshold) df => broadcast(df)
    else {
      Console.err.println(
        s"[graft][WARN] $what: components sliver has $rows rows " +
          s"(~$estBytes B est.) vs broadcast threshold $thresholdStr — " +
          "withholding the broadcast hint; the planner may sort-merge " +
          "(slow but safe). High-duplication corpus: exact-dedup " +
          "boilerplate upstream to shrink the near-dup sliver.")
      identity
    }
  }

  def keepBest(docs: DataFrame, pairs: DataFrame, score: Column): DataFrame = {
    val comp = components(pairs) // (doc_id, component) — pair sliver only
    val hint = sliverHint(comp, "keepBest")
    val scored = docs.select(col("doc_id"), score.cast("long").as("score"))
    // size-guarded broadcast (see sliverHint): deterministic sliver
    // broadcast when it fits, instead of an AQE runtime rescue — and
    // no driver OOM when the dup fraction makes comp corpus-scale
    val paired = scored.join(hint(comp), Seq("doc_id"))
    val winners = paired.groupBy(col("component"))
      .agg(
        // max over (score, -doc_id): best score wins, ties to min id
        max(struct(col("score"), (-col("doc_id")).as("nid"))).as("m"),
        count(lit(1)).cast("long").as("n_members"))
      .select(col("component"), (-col("m.nid")).as("doc_id"),
        col("m.score").as("score"), col("n_members"))
    val unpaired = scored
      .join(hint(comp.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("component"), col("doc_id"),
        col("score"), lit(1L).as("n_members"))
    unpaired.unionByName(winners)
  }

  /** [[keepBest]] under a daily crawl — the incremental-family member
    * for canonical selection (dedup_incremental_* / ann_incremental
    * precedent): absorb a new batch + its near-dup pairs WITHOUT
    * recomputing untouched clusters. A component no new pair/doc
    * touches has byte-identical membership, so its old survivor row
    * passes through UNCHANGED; only components containing a new doc or
    * a new pair endpoint (including history↔history pairs a re-crawl
    * discovered, and components MERGED by a bridging edge — membership
    * is resolved doc-level, so a survivor whose cluster was absorbed
    * under another label is correctly retired) are re-argmaxed, and
    * unpaired new docs enter as their own singletons. Output is
    * bit-identical to `keepBest(allDocs, allPairs)` — the channel
    * gates on the SAME full-recompute oracle.
    *
    * Scale shape: components run over the pair set (near-dup sliver,
    * never corpus-scale); the corpus contributes one projected scan
    * pruned by the broadcast affected-member sliver for scores (a
    * deployment points this at its doc-score side table); untouched
    * survivors move as rows, not recomputation.
    *
    * @param histSurvivors prior [[keepBest]] output
    *                      (component, doc_id, score, n_members)
    * @param docs          (doc_id, score source) for ALL docs — only
    *                      affected members' rows are ever read
    * @param histPairs     pair set the prior run used
    * @param newDocs       (doc_id) of the increment
    * @param newPairs      pairs with ≥1 endpoint new, plus any newly
    *                      discovered history↔history pairs
    */
  def keepBestIncremental(histSurvivors: DataFrame, docs: DataFrame,
                          histPairs: DataFrame, newDocs: DataFrame,
                          newPairs: DataFrame, score: Column): DataFrame = {
    val comp = components(histPairs.unionByName(newPairs))
    val hint = sliverHint(comp, "keepBestIncremental")
    // touched is built from newPairs ∪ newDocs — NOT a subset of comp,
    // so comp's broadcast decision must not govern it (a small comp
    // with a large increment batch would force-broadcast a big frame —
    // r13 ADVICE). It gets its own size-guarded policy; the eager
    // checkpoint makes the sizing count a read, not a recompute, and
    // falls to the caller's PlanHygiene sweep like every sliver.
    val touched = newPairs.select(col("id_a").as("doc_id"))
      .unionByName(newPairs.select(col("id_b").as("doc_id")))
      .unionByName(newDocs.select(col("doc_id")))
      .distinct()
      .localCheckpoint(true)
    val touchedHint = sliverHint(touched, "keepBestIncremental.touched")
    val affected = comp.join(touchedHint(touched), Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    val members = comp.join(hint(affected), Seq("component"), "left_semi")
    val scored = docs.select(col("doc_id"), score.cast("long").as("score"))
    // size-guarded sliver broadcasts for every corpus-facing join, the
    // keepBest rationale (stats-less checkpointed frames must never
    // default-size into a corpus shuffle — but a corpus-scale comp
    // must never force-broadcast either; sliverHint decides once)
    val recomputed = scored.join(hint(members), Seq("doc_id"))
      .groupBy(col("component"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("m"),
        count(lit(1)).cast("long").as("n_members"))
      .select(col("component"), (-col("m.nid")).as("doc_id"),
        col("m.score").as("score"), col("n_members"))
    val newSingles = newDocs.select(col("doc_id"))
      .join(hint(comp.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .join(scored, Seq("doc_id"))
      .select(col("doc_id").as("component"), col("doc_id"), col("score"),
        lit(1L).as("n_members"))
    val untouched = histSurvivors
      .join(hint(members.select(col("doc_id"))), Seq("doc_id"),
        "left_anti")
      .select(col("component"), col("doc_id"), col("score"),
        col("n_members"))
    untouched.unionByName(recomputed).unionByName(newSingles)
  }

  private def releaseCheckpoint(df: DataFrame): Unit =
    graft.PlanHygiene.releaseCheckpoint(df)

  /** Integer-arithmetic PageRank over the near-dup pair graph — the
    * canonical-pick CENTRALITY signal: inside a duplicate cluster, the
    * document most connected to the rest is the natural representative
    * (the graph-side complement of keepBest's quality score), and the
    * damped-walk formulation also surfaces hub templates across
    * clusters. Nodes are the docs that appear in ≥1 pair (isolated
    * docs have no centrality to report); edges are symmetric.
    *
    * DETERMINISM is the whole design: float PageRank sums
    * contributions in partition order (never hash-comparable
    * cross-engine), so every quantity here is an exact BIGINT ladder —
    * pr₀ = scale; share = pr DIV deg; pr' = (15·scale) DIV 100 +
    * (85 · Σ shares) DIV 100 — integer division and exact Long sums
    * only, bit-identical on any engine and any partitioning.
    * Overflow headroom: Σ shares ≤ |nodes|·scale, ×85 stays far under
    * 2⁶³ for any realistic pair-sliver graph.
    *
    * Shape: `iters` rounds of one broadcast-or-hash join (the rank
    * sliver onto the edge sliver) + one map-side-combined sum per
    * round, all over the PAIR SLIVER — corpus-free by construction,
    * like components(); the fixed low iteration count keeps the plan
    * shallow (no checkpoint lifecycle needed).
    */
  def pagerankInt(pairs: DataFrame, iters: Int = 3,
                  scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && scale >= 100 && scale % 100 == 0,
      "need iters >= 1 and a scale divisible by 100")
    // materialize the edge sliver ONCE: every iteration references it
    // 2-3 times, and without the checkpoint each reference re-runs the
    // whole upstream pair pipeline (LSH shingling included) — measured
    // 7.8 s -> the pair cost alone at sf0.1 once checkpointed. The
    // caller's sweep (Bench/Verify PlanHygiene.sweepPersisted) releases
    // the blocks after the result is consumed, the components() pattern.
    // NO pre-checkpoint repartition(src) (r17 added one; r18 A/B
    // REVERTED it, same evidence as components(): +1 job, identical
    // shuffle bytes, 6-rep min 2.37 vs 2.17 s — see
    // plans/r18/jobprofile_copartition_*.txt). Exact BIGINT arithmetic,
    // so exchange placement cannot move a single bit either way.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val base = lit(15L * (scale / 100))
    var pr = nodes.withColumn("pr", lit(scale))
    for (_ <- 1 to iters) {
      val shares = pr.join(deg, pr("doc_id") === deg("src"))
        .select(col("src"), expr("pr DIV deg").as("share"))
      val incoming = edges.join(shares, "src")
        .groupBy(col("dst")).agg(sum(col("share")).as("msum"))
      pr = nodes.join(incoming, nodes("doc_id") === incoming("dst"),
          "left_outer")
        .select(col("doc_id"),
          (base + expr("(85 * coalesce(msum, CAST(0 AS BIGINT))) DIV 100"))
            .cast("long").as("pr"))
    }
    pr
  }

  /** Exact n-gram Jaccard for an explicit candidate pair — the standalone
    * verification op (LSH folds this in already).
    */
  def jaccard(docs: DataFrame, idA: Long, idB: Long, n: Int = 3): Double = {
    val sh = shingleSets(docs.filter(col("doc_id").isin(idA, idB)), n)
    val rows = sh.collect().map(r => r.getLong(0) ->
      r.getSeq[String](1).toSet).toMap
    val (x, y) = (rows(idA), rows(idB))
    if (x.isEmpty && y.isEmpty) 1.0
    else x.intersect(y).size.toDouble / x.union(y).size
  }
}
