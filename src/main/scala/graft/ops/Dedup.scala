package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Designed for 100 TB scale:
  *  - signatures are per-row array expressions (codegen'd, no UDF, no
  *    shuffle until the final candidate grouping);
  *  - candidate generation shuffles on (band, bucket) keys only — never a
  *    quadratic cross join;
  *  - the bucket→pair expansion is capped ([[Dedup.cappedBucketPairs]]):
  *    a pathologically hot bucket (millions of identical documents) costs
  *    O(n·k) chained pairs in a spilling window, never an O(n²) blow-up
  *    in one task.
  */
object Dedup {

  /** Word w-shingles of the normalized text, e.g. w=3 → 3-word grams.
    *
    * Built by `zip_with`-ing w shifted slices of the token array rather
    * than `transform(sequence(...), i => slice(toks, ...))`: a lambda body
    * re-evaluates every non-argument subtree PER ELEMENT, so the
    * slice-per-index form re-tokenizes the document once per shingle —
    * O(tokens²) (measured ~4 s for 7.5k docs at sf0.1). HOF *arguments*
    * are evaluated once per row, so the zip_with form tokenizes O(w)
    * times per document.
    */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    val n = size(toks)
    val m = n - w + 1 // shingle count when n >= w
    val grams = (1 until w).foldLeft(slice(toks, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), m), (a, b) => concat(a, lit(" "), b))
    }
    when(n < w, array(concat_ws(" ", toks))).otherwise(grams)
  }

  /** Exact dedup: keep the first row (min of `keep`) per fingerprint key.
    * Hash-groupBy — one shuffle on the fingerprint, the canonical
    * map-reduce dedup at any scale.
    */
  def exactDedup(df: DataFrame, textCol: String, keepCol: String): DataFrame = {
    val keyed = df.withColumn("__fp", TextOps.fingerprint(col(textCol)))
    val w = Window.partitionBy(col("__fp")).orderBy(col(keepCol))
    keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
  }

  /** Keep-newest dedup: one row per `keys` group — the row with the
    * maximum `order` columns (e.g. latest crawl timestamp per URL), ties
    * broken by the trailing order columns, which must make the order
    * total. The snapshot-compaction twin of [[exactDedup]] (which keeps
    * the FIRST row per content fingerprint): same single hash-shuffle
    * row_number shape, the canonical keep-latest at any scale.
    */
  def keepLatest(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** w-gram hashes from a token-HASH array: each gram hash combines w
    * consecutive token hashes via `xxhash64(acc, next)`. Equivalent
    * blocking quality to hashing the string shingles, but each token is
    * hashed once and every combine works on 16 fixed bytes — no per-gram
    * string concatenation (which was ~half the minhash pipeline's cost:
    * 3 string copies + a variable-length hash per shingle).
    *
    * Since r11 the hot paths (minhashCandidates, verifyJaccard) use the
    * native one-pass [[graft.functions.TokenGramHashes]] byte scan
    * instead; this HOF formulation remains as the executable
    * SPECIFICATION the native expression is equality-tested against.
    */
  def gramHashes(tokenHashes: Column, w: Int = 3): Column = {
    val n = size(tokenHashes)
    val m = n - w + 1
    val grams = (1 until w).foldLeft(slice(tokenHashes, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(tokenHashes, lit(k + 1), m), (a, b) => xxhash64(a, b))
    }
    // short docs: one gram combining all token hashes
    when(n < w,
      array(aggregate(tokenHashes, lit(42L), (a, h) => xxhash64(a, h))))
      .otherwise(grams)
  }

  /** Default hot-bucket threshold for [[cappedBucketPairs]]: buckets at
    * or below this size get FULL pair expansion (exact candidate
    * semantics); only larger buckets fall back to successor chaining.
    * 256 keeps the worst per-bucket expansion at ~32k pairs (a few ms of
    * one task) while covering every bucket a sane banding scheme
    * produces on non-degenerate data.
    */
  val DefaultHotBucketThreshold: Int = 256

  /** Default successor-chain length for hot buckets in
    * [[cappedBucketPairs]]. Named (rather than a literal in each
    * signature) because the DuckDB oracle twins interpolate it into
    * their SQL — the gates hash-check the cap itself, so the Scala
    * default and the oracle must move together.
    */
  val DefaultChainK: Int = 16

  /** Bucket→pair expansion with a HOT-BUCKET CAP, shared by every LSH
    * blocking scheme here. `keyed` carries one row per (bucket member):
    * the bucket key columns `keyCols`, the member id `idCol`, and
    * optionally a payload column (verification data — a fingerprint or a
    * vector) that both pair sides need downstream.
    *
    * Candidate semantics, two regimes split at `hotBucketThreshold`:
    *  - bucket size ≤ threshold (every bucket on non-degenerate data):
    *    ALL intra-bucket pairs are emitted — the candidate set is exactly
    *    the blocking scheme's contract (pigeonhole exactness for simhash
    *    chunks, the 1−p^bands miss rate for OR-amplified LSH), with no
    *    dependence on id adjacency;
    *  - bucket size > threshold (a pathologically hot bucket — millions
    *    of byte-identical crawl pages sharing every band): members sorted
    *    by id pair with their ≤ `chainK` nearest successors, degrading to
    *    O(n·k) chained pairs instead of an O(n²) blow-up inside one task.
    *    Chaining preserves cluster CONNECTIVITY (consecutive ids link),
    *    which is what the dedup-clustering consumers
    *    ([[connectedComponents]] → keep-one-per-cluster) need; only
    *    far-apart direct pairs inside an OVERSIZED bucket are elided, so
    *    downstream pair-level verification (a sim ≥ t filter) can split a
    *    hot bucket's cluster only when that bucket already exceeds the
    *    threshold — callers that need exact pairs at that occupancy must
    *    raise the threshold (cost: O(threshold) per bucket row) or
    *    pre-dedup exact duplicates.
    * Both regimes are deterministic and engine-portable (bucket size +
    * row_number distance over the bucket), so the md5-family oracle twins
    * reproduce the cap itself, not just the uncapped candidate set.
    *
    * One pass: hash exchange on the bucket key → in-partition sort →
    * one WindowExec (successor-collect frame + bucket-size frame share
    * the same partition/order spec) → explode. No self-join, no
    * per-bucket array: the sliding frame holds ≤ threshold−1 successor
    * structs and the window operator streams the bucket with spill. A
    * hot bucket pays O(threshold) frame work per row, then slices to
    * `chainK` — still linear in the bucket, never quadratic.
    *
    * Returns (id_a, id_b [, __pa, __pb payloads]) with id_a < id_b per
    * row — duplicate id values inside a bucket would otherwise surface
    * as (x,x) self-pairs from the window-order tie, so those are
    * filtered (NOT globally distinct — callers dedupe after
    * verification).
    */
  private[ops] def cappedBucketPairs(keyed: DataFrame, keyCols: Seq[String],
      idCol: String, payloadCol: Option[String], chainK: Int,
      hotBucketThreshold: Int = DefaultHotBucketThreshold): DataFrame = {
    require(chainK >= 1, "chainK must be at least 1")
    require(hotBucketThreshold > chainK,
      "hotBucketThreshold must exceed chainK (below it the chain frame already covers the bucket)")
    val wo = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    val pay = payloadCol.map(col).getOrElse(lit(0L))
    // ids ascend within a bucket, so successors > current: id_a < id_b
    // by construction (ties filtered below). ONE sliding frame collects
    // the next threshold−1 successor (id, payload) structs — for a
    // bucket of size ≤ threshold that is ALL successors; the bucket-size
    // count rides the same WindowExec (same partition+order spec,
    // unbounded frame) and picks the regime: full array, or sliced to
    // the first chainK successors when the bucket is hot
    val pairs = keyed
      .select(col(idCol).as("id_a"), pay.as("__pa"),
        collect_list(struct(col(idCol).as("id"), pay.as("pay")))
          .over(wo.rowsBetween(1, hotBucketThreshold - 1)).as("__succ"),
        count(lit(1)).over(wo.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("__bsz"))
      .select(col("id_a"), col("__pa"),
        explode(when(col("__bsz") <= hotBucketThreshold, col("__succ"))
          .otherwise(slice(col("__succ"), 1, chainK))).as("__s"))
      .filter(col("id_a") =!= col("__s.id"))
      .select(col("id_a"), col("__s.id").as("id_b"), col("__pa"),
        col("__s.pay").as("__pb"))
    payloadCol match {
      case Some(_) => pairs
      case None => pairs.select(col("id_a"), col("id_b"))
    }
  }

  /** MinHash+LSH candidate pairs: documents sharing at least one band
    * bucket. Returns (id_a, id_b) with id_a < id_b, distinct.
    *
    * The whole sketch — numHashes minima and their band bucket keys — is
    * computed by ONE fused codegen'd expression per document
    * ([[graft.functions.MinHashBands]]): the only shuffle carries `bands`
    * narrow (band, bucket, id) rows per doc into the bucket grouping.
    * The earlier explode → per-gram shuffle → numHashes-column min-agg
    * shape moved one row per (doc, gram) — ~60× more shuffled rows — and
    * paid a full xxhash64 expression dispatch per derivation; an inline
    * `array_min(transform(...))` per hash function is worse still
    * (re-evaluated per use by Catalyst's project collapsing, measured
    * 100× slower at sf0.1).
    *
    * Buckets of ≤ `hotBucketThreshold` members expand to exactly all
    * pairs (the full LSH candidate contract); only a pathologically hot
    * bucket falls back to `chainK`-successor chaining — O(n·k), not
    * O(n²), never held as one array row (see [[cappedBucketPairs]]).
    */
  /** Collapse sketch-identical documents before banding (r14 verdict
    * task 3): rows sharing the exact sketch value (`keyCol` — the full
    * band array for MinHash, the 64-bit fingerprint for SimHash) are the
    * duplicates the EXACT layer already finds, and on duplicate-dense
    * crawl corpora they are the bulk of every LSH bucket — banding all
    * of them grows candidate pairs with duplicate MULTIPLICITY (the r14
    * 100× probe measured 5→54 pairs/doc on the replica corpus). Instead:
    * only the group REPRESENTATIVE (min id, null-sketch rows excluded)
    * enters banding, and group members link by consecutive-id chains —
    * the same connectivity contract as [[cappedBucketPairs]]' chain cap,
    * so connected-components consumers see identical clusters while the
    * banding and verify volume scale with DISTINCT texts, not raw rows.
    * The shuffle this adds is narrow (id + sketch, no text) and replaces
    * the multiplicity-squared bucket expansion.
    *
    * Returns one row per input doc: (__id, keyCol, __prev) where __prev
    * is null exactly for the group representative (min id) and otherwise
    * holds the previous group member's id. SINGLE-CONSUMER SHAPE MATTERS
    * downstream: splitting this into a reps frame and a chains frame and
    * unioning their results makes the whole sketch subtree a
    * two-consumer plan that Catalyst re-computes per consumer (measured
    * 28 sketch evaluations in the dedup_minhash gate, 0.76→2.76 s at
    * sf0.1) — instead, callers fold the chain pairs INTO the banded
    * frame as synthetic two-member buckets, keeping one linear pipeline.
    *
    * CALLER OBLIGATION (r16): the null-key filter here sits ABOVE the
    * collapse window (below it, predicate pushdown substitutes the
    * key's defining expression into the filter and the sketch runs
    * twice per row), so null-key rows DO ride the hash exchange and
    * window sort before being discarded. Callers whose key can be null
    * must pre-filter a cheap null-equivalent predicate on the key's
    * INPUT below the sketch (text/vector IS NOT NULL — every sketch
    * layer null-propagates) so the scan prunes those rows; a caller
    * without one pays exchange cost for rows that are always dropped.
    */
  private[ops] def collapseMarked(sk: DataFrame, keyCol: String): DataFrame = {
    // partition the window by a 64-bit HASH of the sketch, not the
    // sketch value itself: hash-key exchanges and (long, sketch, id)
    // sorts are far cheaper than array/struct-keyed ones (the value-
    // keyed form cost ~140 ms per evaluation at 90k rows), and the
    // chain test stays EXACT — a row chains only when the previous row
    // in (sketch, id) order carries the identical sketch value, so a
    // 64-bit collision merely co-locates two groups in one partition,
    // never links them
    val w = Window.partitionBy(xxhash64(col(keyCol)))
      .orderBy(col(keyCol), col("__id"))
    // the null-key filter sits ABOVE the window, not below it (r16):
    // below, PushDownPredicates substitutes the key's defining
    // expression into the filter condition — `isnotnull(sketch(text))`
    // next to `sketch(text) AS key` in the same stage — and the whole
    // sketch (tokenize + gram + N hashes) is evaluated TWICE per row
    // (no cross-operator subexpression elimination; thread-dump-
    // confirmed at sf0.1, and the sketch is the dominant map-side CPU
    // at any scale). A window partitioned by a non-attribute expression
    // (xxhash64(key)) blocks predicate pushdown, so up here the filter
    // tests the already-materialized key attribute once. Null-key rows
    // riding the exchange is semantics-free: they share the
    // xxhash64(null) partition, sort first (ASC NULLS FIRST), chain to
    // nothing (null === null is NULL, so __prev stays null), and a
    // following real-key row sees a null lag — exactly the partition-
    // first state it had when nulls were pre-filtered. Callers with a
    // CHEAP null-equivalent predicate on the key's input (text/vector
    // IS NOT NULL) pre-filter below the sketch so the scan still prunes.
    sk.select(col("__id"), col(keyCol),
        when(lag(col(keyCol), 1).over(w) === col(keyCol),
          lag(col("__id"), 1).over(w)).as("__prev"))
      .filter(col(keyCol).isNotNull)
  }

  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 32, bands: Int = 8,
      chainK: Int = DefaultChainK,
      hotBucketThreshold: Int = DefaultHotBucketThreshold): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // tokenize + gram-hash in ONE native byte-scan expression
    // (TokenGramHashes, r11 — bit-exact with the former
    // split/filter/transform/zip_with HOF pipeline, which paid a regex
    // engine plus interpreted per-element lambdas per document); the
    // r9 generator-boundary trick against CollapseProject re-inlining
    // is moot with a single expression
    // cheap null-equivalent pre-filter (sketch null ⟺ text null, every
    // layer null-propagates): prunes at the scan, where the key-attribute
    // filter inside collapseMarked no longer can
    val sk = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
      graft.functions.MinHashBands.minhashBands(
        array_distinct(
          graft.functions.TokenGramHashes.tokenGramHashes(col(textCol))),
        numHashes, bands).as("__bands"))
    // exact-collapse: representatives band normally; a non-representative
    // contributes ONE synthetic two-member bucket (band −1, bucket = its
    // own id — ids are unique, and real bands are ≥ 0, so no key can
    // collide) holding {prev, self}, which cappedBucketPairs expands to
    // exactly the consecutive-id chain pair. One linear pipeline — no
    // union branch re-computing the sketch subtree per consumer
    val marked = collapseMarked(sk, "__bands")
    val banded = marked.select(explode(when(col("__prev").isNull,
        transform(col("__bands"), (b, i) =>
          struct(i.as("__band"), b.as("__bucket"), col("__id").as("__eid"))))
      .otherwise(array(
        struct(lit(-1).as("__band"), col("__id").as("__bucket"),
          col("__prev").as("__eid")),
        struct(lit(-1).as("__band"), col("__id").as("__bucket"),
          col("__id").as("__eid"))))).as("__e"))
      .select(col("__e.__band").as("__band"), col("__e.__bucket").as("__bucket"),
        col("__e.__eid").as("__id"))
    cappedBucketPairs(banded, Seq("__band", "__bucket"), "__id", None,
      chainK, hotBucketThreshold)
      .distinct()
  }

  /** MinHash+LSH with an engine-portable hash family (md5 hex strings,
    * minimum = lexicographic string min): hash_i(shingle) =
    * md5("i:shingle"), band bucket = md5("b|sig[b*r]..sig[(b+1)r-1]").
    * Same shuffle profile as [[minhashCandidates]] (explode → partial
    * min-agg → band buckets → local pair expansion), ~3× the per-shingle
    * CPU of the xxhash64 family — its value is that ANY engine with md5
    * can reproduce the exact candidate set, so the whole sketch pipeline
    * is differential-testable against an independent SQL oracle (here:
    * DuckDB), not just recall-tested.
    */
  def minhashCandidatesMd5(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4,
      chainK: Int = DefaultChainK,
      hotBucketThreshold: Int = DefaultHotBucketThreshold): DataFrame = {
    // same exact-collapse as the xxhash family (the md5 twin exists to
    // make the production pipeline differential-testable, so it must
    // mirror the production shape — the DuckDB oracle reproduces the
    // collapse with the identical bucket-array partition). Chain pairs
    // ride as synthetic two-member buckets (band −1, bucket = the
    // decimal id string — 32-char hex md5 buckets can never collide
    // with it), same single-pipeline shape as minhashCandidates
    val sk = md5BandArray(df, textCol, idCol, numHashes, bands)
    val marked = collapseMarked(sk, "__bands")
    val banded = marked.select(explode(when(col("__prev").isNull,
        transform(col("__bands"), (b, i) =>
          struct(i.as("__band"), b.as("__bucket"), col("__id").as("__eid"))))
      .otherwise(array(
        struct(lit(-1).as("__band"), col("__id").cast("string").as("__bucket"),
          col("__prev").as("__eid")),
        struct(lit(-1).as("__band"), col("__id").cast("string").as("__bucket"),
          col("__id").as("__eid"))))).as("__e"))
      .select(col("__e.__band").as("__band"), col("__e.__bucket").as("__bucket"),
        col("__e.__eid").as("__id"))
    cappedBucketPairs(banded, Seq("__band", "__bucket"), "__id", None,
      chainK, hotBucketThreshold)
      .distinct()
  }

  /** (id, band, bucket) LSH table of the md5 MinHash family (signature
    * hash i = min over shingles of md5("i:shingle"); band bucket =
    * md5("b|sig[b*r]..sig[(b+1)r-1]")) — the banding step of
    * [[minhashCandidatesMd5]], exposed so asymmetric consumers
    * ([[incrementalDuplicates]]) can band each side separately.
    */
  private[graft] def md5Bands(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int): DataFrame =
    md5BandArray(df, textCol, idCol, numHashes, bands)
      .select(col("__id"),
        posexplode(col("__bands")).as(Seq("__band", "__bucket")))

  /** (id, band-bucket array) of the md5 MinHash family — the pre-explode
    * shape [[minhashCandidatesMd5]]'s exact-collapse partitions on.
    */
  private[ops] def md5BandArray(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val exploded = df
      .select(col(idCol).as("__id"),
        explode(array_distinct(shingles(col(textCol)))).as("__s"))
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("__s")))).as(s"__h$i"))
    val sig = exploded.groupBy("__id").agg(mins.head, mins.tail: _*)
    val bandCols = (0 until bands).map { b =>
      md5(concat(lit(s"$b|"), concat_ws(",",
        (b * r until (b + 1) * r).map(i => col(s"__h$i")): _*)))
    }
    sig.select(col("__id"), array(bandCols: _*).as("__bands"))
  }

  /** Incremental dedup: flag NEW-batch documents that duplicate an
    * EXISTING corpus — the continuous-ingestion shape (dedupe the day's
    * crawl against the accumulated 100 TB corpus WITHOUT re-clustering
    * the corpus). Two layers, both asymmetric (new×corpus only — never
    * corpus×corpus, which is the whole point):
    *
    *  - exact: normalized-text fingerprint ([[TextOps.fingerprint]])
    *    equi-join, reason `exact`, jaccard 1.0;
    *  - near: md5-MinHash band tables for each side joined on
    *    (band, bucket), candidates verified by exact shingle Jaccard ≥
    *    `threshold`, reason `near`. Pairs already matched exactly are
    *    excluded from the near layer.
    *
    * Returns (id_a = new-batch id, id_b = corpus id, reason, jaccard),
    * one row per matched pair; new documents with no row are genuinely
    * new. Id spaces of the two inputs MUST be disjoint (the Jaccard
    * verify joins both sides through one id column).
    *
    * 100 TB shape: the corpus band table is a pure function of the
    * corpus (compute once, store, reuse per batch); the band join is
    * selective and the SMALL new side broadcasts under AQE. Hot buckets
    * (boilerplate bands shared by millions of corpus docs) are capped at
    * `hotBucketThreshold` corpus docs per bucket in deterministic id
    * order. NOTE this cap DROPS, it does not chain: a corpus doc ranked
    * past the threshold in every bucket it occupies is invisible to the
    * NEAR layer for that batch (unlike [[cappedBucketPairs]]'s
    * successor-chain cap, which keeps every doc reachable through its
    * bucket neighbours) — the trade for a reusable, batch-independent
    * corpus band table. The EXACT layer is uncapped, so byte-identical
    * corpus duplicates are always found; near-duplicates of over-
    * threshold boilerplate buckets degrade first, which is the accepted
    * regime for hot boilerplate.
    */
  def incrementalDuplicates(newDf: DataFrame, corpusDf: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.5,
      numHashes: Int = 16, bands: Int = 4,
      hotBucketThreshold: Int = DefaultHotBucketThreshold): DataFrame = {
    // generator boundary on the fingerprint (the r9 trick, reapplied
    // r17): joining on a plain `fingerprint(text) AS __fp` alias lets
    // the join's injected isnotnull(__fp) push below the projection with
    // the FULL md5(trim(regexp_replace(lower(text)))) expression
    // substituted in — plan-confirmed: both sides' scan Filters carried
    // the whole fingerprint next to the Project computing it again, so
    // every row paid the normalize+md5 pass twice. The boundary pins one
    // pass; the cheap null-equivalent text predicate below the sketch
    // keeps the scan pruning (fingerprint null ⟺ text null).
    def fpSide(df: DataFrame, as: String) = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as(as), explode(array(struct(
        TextOps.fingerprint(col(textCol)).as("fp")))).as("__s"))
      .select(col(as), col("__s.fp").as("__fp"))
    val exact = fpSide(newDf, "id_a").join(fpSide(corpusDf, "id_b"), "__fp")
      .select(col("id_a"), col("id_b"))
    val nb = md5Bands(newDf, textCol, idCol, numHashes, bands)
      .select(col("__id").as("id_a"), col("__band"), col("__bucket"))
    val cbRanked = md5Bands(corpusDf, textCol, idCol, numHashes, bands)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__band", "__bucket").orderBy("__id")))
      .filter(col("__rn") <= hotBucketThreshold)
      .select(col("__id").as("id_b"), col("__band"), col("__bucket"))
    val cand = nb.join(cbRanked, Seq("__band", "__bucket"))
      .select("id_a", "id_b").distinct()
    val near = verifyJaccardStrings(cand,
        newDf.select(col(idCol), col(textCol))
          .unionByName(corpusDf.select(col(idCol), col(textCol))),
        textCol, idCol, threshold)
    // ONE instantiation of the exact subtree (r17): the former
    // exact.unionByName(near.join(exact, _, "left_anti")) referenced the
    // exact frame twice, and Catalyst re-computes a subtree per
    // reference — both fingerprint scans ran twice. A full-outer merge
    // on the pair key is row-identical: exact-only and both-sides rows
    // surface as reason `exact` / jaccard 1.0 (exactly the rows the
    // union's exact branch emitted — the anti join removed them from
    // near), near-only rows keep their verified jaccard.
    exact.withColumn("__ex", lit(true))
      .join(near, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        when(col("__ex"), lit("exact")).otherwise(lit("near")).as("reason"),
        when(col("__ex"), lit(1.0)).otherwise(col("jaccard")).as("jaccard"))
  }

  /** Exact-Jaccard verification on STRING shingle sets (the md5-family
    * counterpart of [[verifyJaccard]]'s hashed grams — string sets so an
    * independent SQL engine computes the identical intersection).
    */
  def verifyJaccardStrings(candidates: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, threshold: Double, w: Int = 3): DataFrame = {
    val sides = candidates.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("__vid"))
    sides.join(docs.select(col(idCol).as("__vid"), col(textCol).as("__txt")), "__vid")
      .select(col("id_a"), col("id_b"), col("__vid"),
        array_distinct(shingles(col("__txt"), w)).as("__g"))
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("__vid") === col("id_a"), col("__g")), ignoreNulls = true).as("__ga"),
        first(when(col("__vid") === col("id_b"), col("__g")), ignoreNulls = true).as("__gb"))
      // generator boundary — same single-evaluation fix as
      // [[verifyJaccard]]: the STRING-set intersection is even costlier
      // per element, so the pushed filter's second evaluation doubled
      // the verify stage's dominant term
      .select(col("id_a"), col("id_b"), explode(array(struct(
        size(array_intersect(col("__ga"), col("__gb"))).cast("double").as("__i"),
        (size(col("__ga")) + size(col("__gb"))).cast("double").as("__n")))).as("__s"))
      .select(col("id_a"), col("id_b"),
        (col("__s.__i") / (col("__s.__n") - col("__s.__i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash-64 near-dup pairs with the engine-portable md5 hash family.
    * Bit b of a token's hash is bit (b mod 4) of hex nibble (b div 4) of
    * md5(token) — a convention any SQL engine can evaluate from the hex
    * string. Votes aggregate per document into four 16-bit chunk ints;
    * candidate blocking joins on any equal chunk (pigeonhole for
    * maxHamming < 16 per chunk count — exact for every chunk bucket of
    * ≤ `hotBucketThreshold` members; an oversized bucket chains, see
    * [[cappedBucketPairs]]), then exact Hamming ≤ `maxHamming`
    * verifies. Output (id_a, id_b) distinct.
    */
  def simhashPairsMd5(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 8, chainK: Int = DefaultChainK,
      hotBucketThreshold: Int = DefaultHotBucketThreshold): DataFrame = {
    val nibbles = df
      .select(col(idCol).as("__id"), explode(TextOps.tokens(col(textCol))).as("__t"))
      .withColumn("__h", md5(col("__t")))
      .select(col("__id") +: (0 until 16).map(p =>
        conv(substring(col("__h"), p + 1, 1), 16, 10).cast("int").as(s"__n$p")): _*)
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col(s"__n${b / 4}"), b % 4).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"__v$b")
    }
    val agg = nibbles.groupBy("__id").agg(votes.head, votes.tail: _*)
    val chunkCols = (0 until 4).map { c =>
      (0 until 16).map(j =>
        when(col(s"__v${16 * c + j}") > 0, lit(1 << j)).otherwise(0))
        .reduce(_ + _).cast("int").as(s"__c$c")
    }
    val fps = agg.select(col("__id"),
      struct(chunkCols: _*).as("__fp"))
    // exact-collapse on the full fingerprint (mirrors simhashPairs —
    // the md5 twin's DuckDB oracle reproduces the same partition);
    // chains as synthetic (blk −1, key = successor id) buckets, keys
    // widened to long so ids can't overflow the int chunk domain
    val marked = collapseMarked(fps, "__fp")
    def entry(blk: Column, key: Column, id: Column) =
      struct(blk.as("__eblk"), key.as("__ekey"), id.as("__eid"),
        col("__fp").as("__epay"))
    val blocked = marked.select(explode(when(col("__prev").isNull,
        array((0 until 4).map(c => entry(lit(c),
          col(s"__fp.__c$c").cast("long"), col("__id"))): _*))
      .otherwise(array(
        entry(lit(-1), col("__id"), col("__prev")),
        entry(lit(-1), col("__id"), col("__id"))))).as("__e"))
      .select(col("__e.__eblk").as("__blk"), col("__e.__ekey").as("__key"),
        col("__e.__eid").as("__id"), col("__e.__epay").as("__fp"))
    val ham = (0 until 4).map(c =>
      bit_count(col(s"__pa.__c$c").bitwiseXOR(col(s"__pb.__c$c")))).reduce(_ + _)
    cappedBucketPairs(blocked, Seq("__blk", "__key"), "__id", Some("__fp"),
      chainK, hotBucketThreshold)
      .filter(ham <= maxHamming)
      .select("id_a", "id_b")
      .distinct()
  }

  /** SimHash-64: per token occurrence, xxhash64 votes ±1 on each of 64
    * bits (frequency-weighted — occurrence counts, not the distinct token
    * set, so corpora with a shared small vocabulary still separate); the
    * fingerprint sets bit b iff the aggregate vote is positive.
    *
    * Computed by the native one-pass [[graft.functions.SimHash64]]
    * expression (r11) — MAP-ONLY, a fingerprint never leaves its scan
    * task, where the former explode → 64-conditional-sums → groupBy
    * shape shuffled one aggregated row per document and paid 64
    * conditional sums per token occurrence. Bit-exact with that shape
    * (vote adds commute; equality spec-pinned), including its
    * drop-token-less-documents behavior (explode of an empty token
    * array produced no row, so a token-less doc had no fingerprint —
    * preserved here by the tokenCount filter, one cheap byte-scan).
    */
  def simhash64(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(TextOps.tokenCount(col(textCol)) > 0)
      .select(col(idCol),
        graft.functions.SimHash64.simhash64(col(textCol)).as("simhash"))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: fingerprints within `maxHamming`. Candidate
    * generation blocks on 4 16-bit chunks (pigeonhole: ≤3 differing bits →
    * at least one identical chunk), then verifies the exact distance —
    * again no quadratic join. The pigeonhole guarantee is exact for
    * every chunk bucket of ≤ `hotBucketThreshold` members; an oversized
    * bucket falls back to successor chaining ([[cappedBucketPairs]]),
    * which can elide far-apart pairs inside that bucket only.
    */
  def simhashPairs(fps: DataFrame, idCol: String, maxHamming: Int = 3,
      chainK: Int = DefaultChainK,
      hotBucketThreshold: Int = DefaultHotBucketThreshold): DataFrame = {
    // exact-collapse on the fingerprint itself (r14 verdict task 3):
    // identical fingerprints — byte-identical texts foremost — chain at
    // hamming 0 without entering the chunk blocking, so bucket occupancy
    // scales with distinct fingerprints, not duplicate multiplicity.
    // Chain pairs ride as synthetic two-member buckets (chunk −1,
    // key = successor id) with the group's shared fingerprint as
    // payload — hamming 0, so the verify filter passes them; one linear
    // pipeline, no union branch re-computing the fingerprint subtree
    val marked = collapseMarked(
      fps.select(col(idCol).as("__id"), col("simhash")), "simhash")
    def entry(chunk: Column, key: Column, id: Column) =
      struct(struct(chunk.as("chunk"), key.as("key")).as("b"),
        id.as("__eid"), col("simhash").as("__epay"))
    val blocked = marked.select(explode(when(col("__prev").isNull,
        array((0 until 4).map(c => entry(lit(c),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL),
          col("__id"))): _*))
      .otherwise(array(
        entry(lit(-1), col("__id"), col("__prev")),
        entry(lit(-1), col("__id"), col("__id"))))).as("__e"))
      .select(col("__e.b").as("b"), col("__e.__eid").as("__id"),
        col("__e.__epay").as("simhash"))
    cappedBucketPairs(blocked, Seq("b"), "__id", Some("simhash"),
      chainK, hotBucketThreshold)
      .filter(hamming64(col("__pa"), col("__pb")) <= maxHamming)
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a); val db = array_distinct(b)
    size(array_intersect(da, db)).cast("double") /
      size(array_distinct(concat(da, db))).cast("double")
  }

  /** Verify candidate pairs with exact n-gram Jaccard ≥ `threshold`.
    * `docs` must carry (idCol, textCol); candidates carry (id_a, id_b).
    *
    * OUTPUT-UNIQUENESS CONTRACT: the result is unique on (id_a, id_b) —
    * the trailing groupBy(id_a, id_b) guarantees it regardless of
    * duplicate candidate rows. Callers depend on this for row-count
    * identity: the dedup_minhash gate rewrites its semi-join recall
    * count as a left join + count(__hit) (OpsQueries), which is
    * bit-identical ONLY while this function emits at most one row per
    * pair. A change that emits per-band or per-evidence rows must
    * re-aggregate before returning.
    *
    * Each candidate pair is exploded to one row per side and joined
    * against the gram table ONCE, then the pair is reassembled by a
    * groupBy — so each document's shingle set is computed a single time
    * (the naive two-join shape re-shingles the whole corpus per side).
    * Both gram arrays are distinct, so |a ∪ b| = |a| + |b| − |a ∩ b|
    * avoids materializing the union array.
    */
  def verifyJaccard(candidates: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, threshold: Double, w: Int = 3): DataFrame = {
    // join FIRST (small candidate side broadcast against the raw corpus),
    // tokenize + gram-hash AFTER: shingle arrays are computed only for the
    // O(candidate-pair-sides) matched rows, never for the other ~100% of
    // the corpus — the join probe touches just (id, text). Gram HASHES,
    // not string shingles: set intersection over longs, same jaccard up
    // to negligible 64-bit collisions. The gramming itself is the native
    // one-pass TokenGramHashes byte scan (bit-exact with gramHashes over
    // hashed tokens — the equality is spec-pinned)
    val sides = candidates.select(col("id_a"), col("id_b"),
      explode(array(col("id_a"), col("id_b"))).as("__vid"))
    sides.join(docs.select(col(idCol).as("__vid"), col(textCol).as("__txt")), "__vid")
      .select(col("id_a"), col("id_b"), col("__vid"),
        array_distinct(
          graft.functions.TokenGramHashes.tokenGramHashes(col("__txt"), w)).as("__g"))
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("__vid") === col("id_a"), col("__g")), ignoreNulls = true).as("__ga"),
        first(when(col("__vid") === col("id_b"), col("__g")), ignoreNulls = true).as("__gb"))
      // generator boundary (the r9 trick, reapplied r17): a plain
      // `size(array_intersect(...)) AS __i` alias lets PushDownPredicates
      // substitute the intersection into the threshold filter's
      // condition, so every surviving pair paid array_intersect TWICE —
      // once in the pushed Filter, once in the Project above it (no
      // cross-operator subexpression elimination; plan-confirmed: the
      // Filter Condition and the Project Output each carried
      // array_intersect(__ga, __gb)). Predicates referencing generator
      // output cannot push through the Generate, so the intersection
      // runs once per pair and the filter tests the struct field.
      .select(col("id_a"), col("id_b"), explode(array(struct(
        size(array_intersect(col("__ga"), col("__gb"))).cast("double").as("__i"),
        (size(col("__ga")) + size(col("__gb"))).cast("double").as("__n")))).as("__s"))
      .select(col("id_a"), col("id_b"),
        (col("__s.__i") / (col("__s.__n") - col("__s.__i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-document exact-substring (duplicate-span) coverage — the
    * span-level companion to the document-level dedup family (training
    * corpora are deduplicated at substring granularity, not just whole
    * documents: Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"). A w-token shingle whose VALUE occurs in
    * more than one DISTINCT document is duplicated text; a document's
    * duplicate coverage is the fraction of its shingle positions carrying
    * such a shingle. Returns one row per input document:
    * (idCol, n_shingles, dup_shingles, dup_coverage). Shingles repeated
    * only WITHIN a single document do not count — the signal is
    * cross-document duplication, the thing substring dedup removes.
    * Documents shorter than w tokens degrade to one whole-text shingle
    * (the [[shingles]] fallback), so exact short-doc copies still match.
    *
    * Gram hashing is the native one-pass [[graft.functions.TokenGramHashes]]
    * byte scan (whole-stage codegen, no regex/split/HOF allocations — the
    * same hot-path family MinHash uses). The oracle does NOT need to
    * reproduce the hashes: every output count depends only on gram-VALUE
    * equality classes, which the DuckDB twin computes with its own md5
    * grams — counts agree exactly barring a 64-bit gram-hash collision
    * (~(distinct grams)²/2⁶⁴, deterministic per corpus, absent on the
    * gate corpora).
    *
    * 100 TB shape: tokenize+gram map-side ([[shingles]]), ONE groupBy
    * shuffle on the shingle hash with map-side partial aggregation (a
    * boilerplate shingle occurring in millions of documents collapses to
    * one row per map partition before the exchange), a join back on the
    * same hash key (same partitioning — no extra exchange on the big
    * side), and a per-document count shuffle. No all-pairs term anywhere;
    * hot-shingle skew is absorbed by the partial agg, and the duplicated-
    * hash set joined back is the SMALL side (AQE broadcasts it when it
    * fits). Span-precise variants (exact duplicated character ranges)
    * need a suffix-array pass the map-reduce model doesn't express
    * cheaply; position-level shingle coverage is the standard distributed
    * approximation.
    *
    * NULL-text documents are EXCLUDED from the output (the gram array is
    * NULL and `explode` drops the row — [[graft.functions.TokenGramHashes]]'s
    * pinned null semantics: a null document belongs to no bucket); the
    * committed oracle filters `text IS NOT NULL` to match.
    */
  def duplicateSpanCoverage(df: DataFrame, textCol: String, idCol: String,
      w: Int = 5): DataFrame = {
    val sh = df.select(col(idCol).as("__id"),
      explode(graft.functions.TokenGramHashes.tokenGramHashes(col(textCol), w))
        .as("__h"))
    // distinct (hash, doc) before the per-hash doc count: the partial
    // aggregate then carries at most one row per (hash, doc) per
    // partition, and the count needs no two-phase DISTINCT expansion
    val dup = sh.dropDuplicates("__h", "__id")
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1)
      .select(col("__h"), lit(true).as("__dup"))
    sh.join(dup, Seq("__h"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__dup")).as("dup_shingles"))
      .select(col("__id").as(idCol), col("n_shingles"), col("dup_shingles"),
        (col("dup_shingles") * lit(1.0) / col("n_shingles")).as("dup_coverage"))
  }

  /** SemDeDup-style semantic deduplication over an embedding column:
    * near-duplicate pairs by cosine ≥ `threshold` (LSH-bucketed — the
    * candidate join is linear in bucket sizes, never a corpus cross
    * join), clustered by [[connectedComponents]], keeping the
    * minimum-id representative of each cluster. Returns the KEPT ids
    * (one column named `idCol`) — anti-joining the corpus against its
    * complement is the caller's one-liner. The standard embedding-space
    * dedup pass for training corpora, entirely composed of distributed
    * primitives: no driver-side vectors at any scale. `nBits = 0`
    * (default) sizes the LSH keyspace to the corpus
    * ([[Similarity.adaptiveBits]]) so bucket occupancy — and with it
    * the full-expansion recall contract — survives corpora that would
    * saturate a fixed keyspace; pass `knownCount` (e.g. the lake
    * catalog's exact record_count) to avoid the extra count() pass
    * that sizing otherwise needs.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, nBits: Int = 0,
      knownCount: Option[Long] = None): DataFrame = {
    val pairs = Similarity.cosineNearDupPairs(df, idCol, vecCol, dim, threshold,
      nBits, knownCount = knownCount)
    // min-label propagation converges to each component's minimum id, so
    // the kept representative is exactly the row whose label is itself
    connectedComponents(pairs.select(col("id_a"), col("id_b")), "id_a", "id_b",
        vertices = Some(df.select(col(idCol))))
      .filter(col("id") === col("component"))
      .select(col("id").as(idCol))
  }

  /** Best-representative selection over a duplicate-pair graph: cluster
    * with [[connectedComponents]], then keep per cluster the single row
    * maximizing `scoreCol` (ties by ascending id — a total order, so the
    * survivor set is deterministic). The production alternative to the
    * min-id representative: when a cluster holds near-copies of varying
    * quality (truncated mirror vs full article), the cut should keep the
    * BEST copy, not the numerically-smallest id. Vertices passed in
    * `docs` but absent from `pairs` are singleton clusters and keep
    * themselves. Returns the kept ids (one `idCol` column).
    *
    * 100 TB shape: components is the O(log n)-round SV pass; the argmax
    * is one row_number window per component — cluster sizes are bounded
    * by the near-dup radius (and the pair generators' hot-bucket caps),
    * so no window partition inherits corpus scale.
    */
  def keepBestPerCluster(pairs: DataFrame, docs: DataFrame, idCol: String,
      scoreCol: Column): DataFrame = {
    val comp = connectedComponents(pairs.select(col("id_a"), col("id_b")),
      "id_a", "id_b", vertices = Some(docs.select(col(idCol))))
    val scored = comp.join(
      docs.select(col(idCol).as("id"), scoreCol.as("__score")), "id")
    val w = Window.partitionBy("component")
      .orderBy(col("__score").desc, col("id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id").as(idCol))
  }

  /** Connected components over a near-duplicate pair graph → duplicate
    * CLUSTERS (the step after pair generation: keep one doc per component
    * at corpus scale). Shiloach–Vishkin-style hook + shortcut: each round
    * (1) HOOKS at the parents — every edge whose endpoints sit in
    * different trees votes the larger PARENT down to the smaller parent,
    * aggregated min per target, so whole trees merge at their roots in
    * one step — then (2) SHORTCUTS twice (parent ← parent(parent)),
    * halving tree depth. Tree sizes at least double per round →
    * O(log n) rounds on ANY graph shape, including the adversarial
    * path. (Plain min-label propagation is O(diameter) rounds — a
    * near-length chain at sf0.1 blows past any fixed round cap — and
    * naive "follow your label's label" jumping does NOT fix it: min-id
    * labels aren't parent pointers, so label-of-label lands wherever
    * the min id happens to sit instead of doubling reach.) Fully
    * distributed: ~5 narrow shuffles per round, no driver state.
    *
    * `vertices` (optional, single id column) adds isolated vertices as
    * their own singleton components. Returns (id, component). Label ids
    * must be an INTEGRAL column (int/long/scale-0 decimal): the monotone
    * label-sum convergence test casts to decimal(38,0), so a fractional
    * id type could change by less than one integral unit per round and
    * truncate to an unchanged sum — a silent premature convergence.
    * Fractional id columns are rejected up front.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          vertices: Option[DataFrame] = None,
                          maxIter: Int = 40): DataFrame = {
    val session = edges.sparkSession
    import org.apache.spark.sql.types._
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    (Seq(srcCol -> edges.schema(srcCol).dataType,
        dstCol -> edges.schema(dstCol).dataType) ++
      vertices.map(v => "vertices" -> v.schema.head.dataType)).foreach { case (n, dt) =>
      if (!integral(dt))
        throw new IllegalArgumentException(
          s"connectedComponents requires integral vertex ids; column $n is " +
            s"${dt.simpleString} (a fractional id can change by <1 unit per " +
            "round and defeat the decimal(38,0) convergence test)")
    }

    // Per-round frame boundary. Each round MUST restart from a frame
    // whose plan carries nothing of the previous round, for three
    // reasons measured at sf0.1 (Spark 4.1):
    //  - plain persist() caches data but the analyzer still walks the
    //    nested tree every round → O(rounds²) analysis, driver OOM on a
    //    long-diameter graph;
    //  - Dataset.localCheckpoint TRUNCATES the plan but BAKES the origin
    //    plan's stats and constraints onto its LogicalRDD
    //    (rewriteStatsAndConstraints): the self-join below then SQUARES
    //    the baked sizeInBytes estimate every round — the BigInteger
    //    doubles its bit length per round until the optimizer spends
    //    minutes in multiplyToomCook3 — and chained constraints
    //    accumulate dangling attribute ids that crash the next round's
    //    Union constraint rewrite (`key not found: id#N`);
    //  - so: drop to the RDD (Catalyst-free boundary), localCheckpoint
    //    it (lineage truncation + storage, blocks freed by the
    //    ContextCleaner as rounds are superseded), and re-lift via the
    //    bridge — a fresh LogicalRDD with default stats and no
    //    constraints. InternalRow end-to-end: the rows are copied out
    //    of the scan's reused buffers, never boxed.
    // (Measured dead end, kept as a note: freshening WITH a declared
    // HashPartitioning — repartition(n, key) then
    // ColumnBridge.internalFrameHashPartitioned — does make every
    // per-round join exchange-free, but at 1M vertices it ran 2.5×
    // SLOWER per round: with no exchanges there are no runtime shuffle
    // statistics, so AQE can neither flip the label-frame joins to
    // broadcast nor coalesce partitions, and the static sort-merge plan
    // loses to AQE's re-planned one. Static co-partitioning only pays
    // off once the label frame outgrows the broadcast threshold by
    // orders of magnitude; at that size swap freshen for the declared
    // variant.)
    def freshen(df: DataFrame): DataFrame = {
      val rdd = df.queryExecution.toRdd.map(_.copy())
      rdd.localCheckpoint()
      org.apache.spark.sql.graftbridge.ColumnBridge
        .internalFrame(session, df.schema, rdd)
    }

    // freshened, not persist()ed: the edge frame appears in EVERY
    // round's plans, so persist alone would re-analyze the caller's
    // whole edge-derivation tree (e.g. an interval join) each round —
    // the boundary caches the data AND collapses the plan to one node
    // one row per edge, canonicalized (small endpoint first): the hook's
    // vote — larger PARENT down to the smaller — is direction-symmetric,
    // so mirroring every edge (the propagation-era shape) would only
    // double the hook joins' probe volume
    val und = freshen(
      edges.select(least(col(srcCol), col(dstCol)).as("__s"),
          greatest(col(srcCol), col(dstCol)).as("__d"))
        .distinct())
    val ids = und.select(col("__s").as("id"))
      .union(und.select(col("__d").as("id"))).distinct()
    var labels = freshen(
      vertices.map(v => ids.union(v.toDF("id")).distinct()).getOrElse(ids)
        .withColumn("component", col("id")))

    // parent ← parent(parent): parents are always vertex ids present in
    // the table, so the lookup is an inner self-join
    def shortcut(par: DataFrame): DataFrame = par.as("a")
      .join(par.select(col("id").as("__i"), col("component").as("__pp"))
        .as("b"), col("a.component") === col("__i"))
      .select(col("a.id").as("id"), col("__pp").as("component"))

    // convergence check: labels are per-vertex monotone non-increasing
    // (hook takes a least(); shortcut follows parent(x) ≤ x), so the
    // label SUM strictly decreases until the fixpoint — an exact scalar
    // test that costs one partial-aggregated exchange per round instead
    // of a V-row join against the previous round. decimal(38,0) keeps
    // the sum exact at any vertex count / id magnitude.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.select(sum(col("component").cast("decimal(38,0)")).as("s"))
        .head.getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d // empty graph
    }
    var prevSum = labelSum(labels)

    var converged = false
    var iter = 0
    // the live edge set, CONTRACTED each round: once two endpoints share
    // a parent the edge can never vote again, and an edge between
    // distinct trees carries exactly the same future information as the
    // (parentA, parentB) pair — so each round replaces the edge list
    // with the deduped parent pairs of its still-crossing edges. Edge
    // volume shrinks geometrically (a path halves per round; a duplicate
    // clique collapses almost immediately), so the two hook joins —
    // previously re-shuffling ALL |E| edges every round — do
    // |E| + |E|/2 + |E|/4 + … ≈ 2|E| total join work across the whole
    // run instead of rounds×|E|. Measured on the 1M-vertex path
    // (graft.CCBench): 19.7 s → 15.1 s warm. Vertex labels are
    // untouched: contraction only changes which edges vote, not who
    // gets re-labeled, and contracted endpoints are parent ids — always
    // vertex ids present in the label table.
    var activeEdges = und
    while (!converged && iter < maxIter) {
      // hook: resolve both endpoints' parents, and for every cross-tree
      // edge vote the LARGER parent down to the smaller one (min per
      // target). Hooking parents — not endpoints — is what merges whole
      // trees per round. The crossing pairs are materialized ONCE
      // (freshened — R rows, geometrically shrinking) and feed both the
      // votes and the next round's contracted edge list.
      val crossing = freshen(activeEdges
        .join(labels.select(col("id").as("__si"), col("component").as("__ps")),
          col("__s") === col("__si"))
        .join(labels.select(col("id").as("__di"), col("component").as("__pd")),
          col("__d") === col("__di"))
        .filter(col("__ps") =!= col("__pd"))
        .select(col("__ps"), col("__pd")))
      val ps = crossing
        .select(greatest(col("__ps"), col("__pd")).as("id"),
          least(col("__ps"), col("__pd")).as("__cand"))
        .groupBy("id").agg(min("__cand").as("__cand"))
      // left join, not union+re-agg: the vote table ps SHRINKS every
      // round (only roots still being merged), so AQE flips this to a
      // broadcast probe of labels — a union would re-aggregate the full
      // label frame per round (measured slower at 1M vertices)
      val hooked = labels.join(ps, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("__cand"), col("component")))
            .as("component"))
      // freshen between EVERY self-referencing step, not just per round:
      // Catalyst re-computes a subplan per REFERENCE (the two sides of a
      // shortcut self-join project different columns, so even exchange
      // reuse can't dedupe them) — an un-freshened
      // shortcut(shortcut(hooked)) evaluates the whole hook pipeline 4×.
      // A freshened frame is one shared RDD in the DAG: both join sides
      // scan the same localCheckpointed blocks, each step computed ONCE.
      // All three boundaries stay lazy until labelSum's single action.
      // (Measured at 1M vertices: ~2.4× faster rounds than one boundary
      // per round; batching 2 rounds per boundary is 1.5× SLOWER. Third
      // measured dead end, round 10: freshening ps instead of hooked —
      // so shortcut's two references each rebuild `labels ⟕ psF` and the
      // V-row hook boundary disappears — is 19.7 s → 22.0 s on the
      // 1M-path (graft.CCBench): the doubled hook-join evaluation costs
      // more than the one saved V-row copy+localCheckpoint, even with
      // the vote side broadcast. The hooked boundary stays.)
      val next = freshen(shortcut(freshen(hooked)))
      val curSum = labelSum(next)
      labels = next
      converged = curSum.compareTo(prevSum) == 0
      // contract AFTER the action above has materialized `crossing`:
      // the distinct parent pairs are next round's edges (canonicalized
      // small-first like the original list). Skipped on the final round.
      if (!converged)
        activeEdges = freshen(crossing
          .select(least(col("__ps"), col("__pd")).as("__s"),
            greatest(col("__ps"), col("__pd")).as("__d"))
          .distinct())
      prevSum = curSum
      iter += 1
    }
    // tree sizes at least double per round, so the default maxIter covers
    // any graph that fits in storage — exhaustion means a bug, and
    // silently returning half-merged clusters would corrupt a dedup
    // downstream
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels
  }
}
