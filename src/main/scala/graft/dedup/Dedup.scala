package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShims
import org.apache.spark.storage.StorageLevel

import graft.functions.{IntersectCountSorted, ShingleHashes, ShingleMinHash, SignatureMatches, SimHash32, WinnowAnchors}
import graft.text.TextFunctions

/** Deduplication operators for large-scale corpora.
  *
  * Designed around one rule: NEVER compare all pairs. Every candidate
  * set here stays inside the buckets of a blocking key (content hash,
  * LSH band hash, length bucket), so each stage is a single hash
  * shuffle whose cost scales with the data, not with its square:
  *
  *  - exact: one shuffle on the content hash, map-side partial agg.
  *  - MinHash LSH: signatures are a NARROW projection (one native
  *    pass over the token array — no explode of shingles across rows,
  *    no shuffle); only the `bands` band hashes per doc are exploded,
  *    each carrying its doc's signature, and candidates are generated
  *    AND verified inside their (band index, band hash) bucket by one
  *    window pass — no join, no cache. Pathological band buckets
  *    (identical-doc clusters colliding in every band) fall back to a
  *    star over the bucket above a size cap, so no reducer ever goes
  *    quadratic — at 100 TB this is the standard web-dedup layout.
  *  - SimHash: per-doc narrow aggregate, no shuffle at all.
  *  - n-gram Jaccard: exact set intersection as the VERIFY step over
  *    the same high-cardinality MinHash band candidates (round-2
  *    verdict: a token-length blocking key has bounded cardinality, so
  *    its buckets grow linearly with the corpus and the in-bucket
  *    quadratic join becomes the bottleneck; band-hash cardinality
  *    scales with the corpus, so bucket sizes stay O(cluster size)).
  *
  * All outputs are exact integer/string math so the DuckDB oracle
  * reproduces them bit-for-bit (see graft.oracle.DocSql).
  */
object Dedup {

  /** MinHash/LSH parameters. numHashes = bands * rowsPerBand.
    * With (12, 4, 3): P(candidate | jaccard j) = 1-(1-j^3)^4 —
    * ~0.99 at j=0.9, ~0.004 at j=0.1.
    *
    * maxBucketSize caps the all-pairs pass per (band_idx, band_hash)
    * bucket ([[bucketPairs]]): buckets up to the cap emit every pair (at
    * most cap^2 per bucket); larger buckets — near-identical clusters
    * that collide in every band, the common case at web scale — fall
    * back to a STAR over the bucket (each doc paired with the bucket's
    * min doc_id, O(bucket) pairs), so big clusters stay connected
    * instead of being dropped (round-3 ADVICE). Deterministic (a size
    * test plus a min, not a sample), so the DuckDB oracle reproduces it
    * with window functions. */
  final case class MinHashParams(
      numHashes: Int = 12,
      bands: Int = 4,
      shingleK: Int = 3,
      minMatches: Int = 6,
      maxBucketSize: Int = 64) {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand: Int = numHashes / bands
  }

  /** Exact dedup: group identical content, keep the smallest id.
    * One shuffle on the 128-bit content hash; partial aggregation
    * makes the exchange carry one row per distinct document. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextFunctions.contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Modulus of the affine MinHash family: 2^31 - 1 (Mersenne prime).
    * Keeping h < 2^31 makes a*h + b stay well inside a 64-bit signed
    * integer — exact (and identical) in Spark and DuckDB. */
  val HashP: Long = 2147483647L

  /** Coefficients of hash function i: h_i(x) = (a*x + b) mod HashP.
    * a is never 0 mod the prime; constants are fixed so the oracle
    * regenerates them. */
  def hashCoef(i: Int): (Long, Long) =
    ((1103515245L * (i + 1)) % HashP, (12345L * (2 * i + 1)) % HashP)

  /** One base hash per shingle: the first 8 md5 hex digits as an
    * integer, reduced mod HashP. One md5 per shingle TOTAL — the
    * `numHashes` family members are cheap affine transforms of this
    * (round-2 bench: recomputing md5 per hash function made signature
    * construction the dominant dedup cost). */
  def shingleBaseHashes(text: Column, p: MinHashParams): Column =
    transform(TextFunctions.shingles(text, p.shingleK),
      s => conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long") % HashP)

  /** MinHash signature from the base-hash array: per function i, the
    * minimum of (a_i*h + b_i) mod P over the document's shingles. */
  def signatureFromBase(bh: Column, p: MinHashParams): Column =
    array((0 until p.numHashes).map { i =>
      val (a, b) = hashCoef(i)
      array_min(transform(bh, h => (h * a + b) % HashP))
    }: _*)

  /** Builtin-composed signature — the executable SPEC of the
    * semantics; [[minhashSignature]] is the native one-pass expression
    * the pipelines use (equality is asserted in DedupSpec). */
  def minhashSignatureBuiltin(text: Column, p: MinHashParams): Column =
    signatureFromBase(shingleBaseHashes(text, p), p)

  /** MinHash signature via the one-pass native expression
    * [[graft.functions.ShingleMinHash]] (no shingle-string or
    * base-hash materialization, no interpreted lambda passes). */
  def minhashSignature(text: Column, p: MinHashParams): Column =
    ColumnShims.column(ShingleMinHash(
      ColumnShims.expression(TextFunctions.tokens(text)), p.shingleK, p.numHashes))

  /** Sorted distinct 60-bit md5-prefix hashes of the k-shingles via the
    * one-pass native expression [[graft.functions.ShingleHashes]] — the
    * exact-verify representation for [[jaccardPairs]]. */
  def shingleHashes(text: Column, k: Int): Column =
    ColumnShims.column(ShingleHashes(
      ColumnShims.expression(TextFunctions.tokens(text)), k))

  /** Builtin-composed [[shingleHashes]] — the executable SPEC
    * (DedupSpec asserts equality with the native expression). 15 hex
    * digits = 60 bits, so the conv result fits a signed long exactly. */
  def shingleHashesBuiltin(text: Column, k: Int): Column =
    array_sort(array_distinct(transform(TextFunctions.shingles(text, k),
      s => conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long"))))

  /** Per-band key: the band's signature components joined to a string
    * (cheap, high-cardinality join key). Shared with the streaming
    * near-dedup ([[graft.streaming.StreamDedup]]). */
  private[graft] def bandHashes(sig: Column, p: MinHashParams): Column =
    array((0 until p.bands).map { j =>
      concat_ws("_", (0 until p.rowsPerBand).map(r =>
        element_at(sig, j * p.rowsPerBand + r + 1).cast("string")): _*)
    }: _*)

  /** The MinHash verify score: the number of signature components on
    * which two signatures agree, via the one-pass native expression
    * [[graft.functions.SignatureMatches]]. Every MinHash pair pipeline
    * scores through this one helper. The bucket-local pass scores each
    * candidate once per band it shares, before the distinct, so the
    * score is on its hot path; there the builtin
    * `size(filter(zip_with(...)))` (two interpreted lambdas per
    * component; DedupSpec keeps it as the SPEC) measured slower
    * (BASELINE.md, "Dedup ledger"). */
  private[graft] def signatureMatches(a: Column, b: Column): Column =
    ColumnShims.column(SignatureMatches(ColumnShims.expression(a), ColumnShims.expression(b)))

  /** The CAP/STAR RULE over an exploded (doc_id, band_idx, band_hash
    * [, payload]) frame, as ONE window → generator pass — the only
    * Spark-side implementation of the rule. Buckets up to
    * maxBucketSize emit every pair (no row ever holds more than
    * maxBucketSize members); larger buckets — near-identical clusters
    * that collide in every band, the common case at web scale — emit
    * the STAR (bucket-min doc_id, doc_id), which keeps them connected
    * at O(bucket) pairs (round-3 ADVICE: dropping those buckets lost
    * exactly the boilerplate clusters dedup exists for). No join, no
    * cache: one exchange on the bucket key, and building the frame
    * submits no job.
    *
    *  - window 1 (whole bucket, ordered by doc_id): `bucket_n` and the
    *    bucket-min member — the star centre;
    *  - window 2 (same partitioning and order, so no second exchange or
    *    sort): each row's EARLIER members, `collect_list` of a member
    *    that is NULL in over-cap buckets — collect_list skips NULLs, so
    *    an over-cap bucket is never collected into a row;
    *  - one explode: an in-cap row pairs with each earlier member, an
    *    over-cap row with the bucket min; `doc_a < doc_b` drops the
    *    min's self-pair (and NULL ids).
    *
    * A member is (doc_id[, payload]); with a payload the output is
    * (doc_a, doc_b, <payload>_a, <payload>_b), so a verify can score
    * the pair inside the bucket without joining back ([[minhashPairs]]
    * passes `sig`). Without one it is the plain candidates of Jaccard,
    * cosine and semantic dedup, which verify by their own joins
    * (band_hash is whatever the caller blocks on). A pair sharing
    * several buckets is emitted once per bucket: callers `distinct()`.
    * The join form (in-cap self-join + star union) is the SPEC in
    * DedupSpec. */
  private[graft] def bucketPairs(exploded: DataFrame, maxBucketSize: Int,
      payload: Option[String] = None): DataFrame = {
    val ordered = Window.partitionBy(col("band_idx"), col("band_hash"))
      .orderBy(col("doc_id").asc_nulls_last)
    val bucket = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val earlier = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val carried = (Seq("doc_id") ++ payload).map(col)
    val member = struct(carried: _*)
    val inCap = col("bucket_n") <= maxBucketSize
    exploded
      .select(col("*"),
        count(lit(1)).over(bucket).as("bucket_n"),
        first(member).over(bucket).as("bucket_min"))
      .select(carried ++ Seq(col("bucket_n"), col("bucket_min"),
        collect_list(when(inCap, member)).over(earlier).as("earlier")): _*)
      .select((col("doc_id").as("doc_b") +: payload.toSeq.map(c => col(c).as(s"${c}_b"))) :+
        explode(when(inCap, col("earlier")).otherwise(array(col("bucket_min")))).as("a"): _*)
      .select((col("a.doc_id").as("doc_a") +: col("doc_b") +:
        payload.toSeq.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"${c}_b")))): _*)
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Near-duplicate candidate pairs via banded MinHash LSH.
    * Output: (doc_a, doc_b, minhash_matches) for pairs colliding in at
    * least one band AND agreeing on >= minMatches of the signature
    * components (the signature-based Jaccard estimate).
    *
    * Lazy: the signature projection is narrow and consumed once by
    * [[bucketVerifiedPairs]], so nothing is persisted and building the
    * frame submits no Spark job (DedupSpec counts them). Doc ids are
    * assumed unique, as everywhere in this object. */
  def minhashPairs(docs: DataFrame, p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bucketVerifiedPairs(sigFrame(docs, p, idCol, textCol), p)

  /** The MinHash pair pipeline over a (doc_id, sig) frame: the band
    * explode carries each doc's signature, [[bucketPairs]] pairs it
    * inside its (band_idx, band_hash) bucket, and the pair is scored
    * there, filtered at minMatches and made distinct across bands — one
    * band exchange, one distinct exchange, no join or cache. Same
    * output as DedupSpec's join SPEC `verifyPairs(bandCandidates(sigs))`,
    * which pins the equality. */
  private[graft] def bucketVerifiedPairs(sigs: DataFrame, p: MinHashParams): DataFrame =
    bucketPairs(
      sigs.select(col("doc_id"), col("sig"),
        posexplode(bandHashes(col("sig"), p)).as(Seq("band_idx", "band_hash"))),
      p.maxBucketSize, Some("sig"))
      .select(col("doc_a"), col("doc_b"),
        signatureMatches(col("sig_a"), col("sig_b")).as("minhash_matches"))
      .filter(col("minhash_matches") >= p.minMatches)
      .distinct()

  /** Persist + EAGERLY FILL a shared internal frame (round-18): a
    * lazy persist protects against duplicate subtrees only once the
    * cache is FILLED — when the consuming plan's branches submit
    * concurrent stages (AQE submits independent stages in parallel),
    * each branch's tasks compute the still-missing partitions and the
    * heavy subtree runs 2-5x anyway (measured: q_dedup_substr's
    * winnowing-anchor stage twice, q_emb_direction's Gram generator
    * twice, the jaccard band subtree three times — the BlockManager's
    * "block already exists; not re-adding" churn). One count() fills
    * the cache before any consumer is planned; every branch then
    * reads memory. The fill is work the first consumer pays anyway,
    * so the query's total cost strictly drops. NOTE this makes the
    * operator eager at DataFrame-construction time (documented here
    * once, referenced at call sites); blocks are released by the
    * standard caller-side `spark.catalog.clearCache()`. */
  private[graft] def eagerCache(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** A narrow per-row projection behind a SCALE-ADAPTIVE numbered
    * repartition (round-17 optimization): when the corpus arrives as
    * fewer splits than the session's shuffle width — the small-input /
    * few-row-groups regime, where parquet cannot split further — a
    * CPU-heavy per-row pass (the one-pass minhash, the Gram build)
    * would run on a handful of cores AND every fan-out branch racing
    * an unfilled cache re-runs it from the raw text (measured:
    * q_dedup_clusters_best re-scanned the corpus ~10x through the sig
    * subtree). A numbered repartition (AQE never
    * coalesces an explicit user count) parallelizes the hashing and
    * makes every downstream branch read the ONE shuffle instead of
    * re-deriving the projection. When the scan is already at least
    * shuffle-width parallel (the 100 TB regime), no exchange is added
    * — the corpus text is never shuffled at scale. Signatures are
    * per-row-pure, so placement cannot change any result.
    *
    * `widen` probes partition width via `.rdd`, which EXECUTES query
    * stages for any AQE-wrapped plan — so it is GATED on the optimized
    * plan being scan-shaped (leaf / filter / project only; round-17
    * ADVICE): a derived frame with an exchange or join underneath is
    * returned untouched instead of being eagerly run at planning time.
    * A non-numeric shuffle-partitions conf (e.g. "auto" on forks that
    * support it) also passes the frame through unchanged. */
  private[graft] def widen(narrow: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LeafNode, LogicalPlan, Project => LProject}
    def scanShaped(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case f: LFilter => scanShaped(f.child)
      case pr: LProject => scanShaped(pr.child)
      case _ => false
    }
    val n = scala.util.Try(
      narrow.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    ).getOrElse(0)
    if (n <= 0 || !scanShaped(narrow.queryExecution.optimizedPlan)) narrow
    else if (narrow.rdd.getNumPartitions < n) narrow.repartition(n)
    else narrow
  }

  /** The lazy (doc_id, sig) projection behind [[minhashPairs]],
    * [[jaccardPairs]] and [[writeSimilarityGraph]]. Not persisted: the
    * first two read it once; [[writeSimilarityGraph]], whose index write
    * and edge pass both read it, persists its own copy. */
  private[graft] def sigFrame(docs: DataFrame, p: MinHashParams,
      idCol: String, textCol: String): DataFrame =
    // no widen here: the one-pass minhash is ~100-150 ms serial at
    // bench scale, below widen's own planning cost (measured; widen
    // stays on the Gram build and the semantic-dedup quantize, whose
    // serial cost is ~10x)
    docs.select(col(idCol).as("doc_id"), minhashSignature(col(textCol), p).as("sig"))

  /** The signature-verify tail of the similarity-graph append and
    * delete verbs: candidate (doc_a, doc_b) pairs scored by component
    * agreement against a (doc_id, sig) frame, filtered at minMatches.
    * Over DedupSpec's join-form band candidates it is also the SPEC of
    * [[bucketVerifiedPairs]]. */
  private[graft] def verifyPairs(cand: DataFrame, sigs: DataFrame,
      p: MinHashParams): DataFrame =
    cand
      .join(sigs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"), "doc_a")
      .join(sigs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        signatureMatches(col("sig_a"), col("sig_b")).as("minhash_matches"))
      .filter(col("minhash_matches") >= p.minMatches)

  /** Persist [[minhashPairs]] as the corpus's similarity-graph
    * artifact — the production shape for every downstream graph
    * consumer (PageRank plain/weighted/personalized, triangles,
    * clustering, label propagation, modularity): the pair graph is a
    * pure function of the corpus snapshot, so it is built once per
    * snapshot and probed by any number of analytics jobs, instead of
    * each job re-paying the shingle → minhash → band → verify
    * pipeline (round-13 verdict #4: six graph queries each rebuilt it
    * from scratch, ~20 s of a 140 s suite). Same artifact contract
    * as the curve-indexed layouts and the PQ index; keeps
    * minhash_matches so weighted consumers read the same artifact.
    *
    * Layout under `path` (round-14 verdict #2 — the lifecycle that
    * makes the artifact GROWABLE instead of rebuild-only):
    *  - `edges/` (doc_a, doc_b, minhash_matches) — what consumers
    *    read ([[readSimilarityGraph]]);
    *  - `index/` — the corpus's [[writeSignatureIndex]] signature
    *    index, so [[appendSimilarityGraph]] can derive a new batch's
    *    edges without ever re-reading old TEXT. */
  def writeSimilarityGraph(docs: DataFrame, path: String,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val sigs = sigFrame(docs, p, idCol, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      writeIndexFromSigs(sigs, s"$path/index", p, "overwrite")
      bucketVerifiedPairs(sigs, p)
        .write.mode("overwrite").parquet(s"$path/edges")
    } finally sigs.unpersist()
  }

  /** The serve half of the similarity-graph lifecycle. */
  def readSimilarityGraph(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/edges")

  /** Grow a [[writeSimilarityGraph]] artifact by one ingest batch so
    * that build + any append sequence equals a from-scratch build of
    * the union EDGE FOR EDGE (SimGraphSpec asserts; the gated
    * q_graph_edges_append compares against the plain [[minhashPairs]]
    * oracle over the whole corpus — nothing can drift, because the
    * oracle never sees the incremental path).
    *
    * CONTRACT: batch ids are MONOTONE — every new doc_id exceeds every
    * stored one (fail-fast require). That is the production ingest
    * shape (snapshot ids grow over time; the gated query splits the
    * corpus by an id cutoff), and it pins every band bucket's min id
    * to the OLD side, so the star edges already stored for over-cap
    * buckets stay canonical. BACKFILL (a late-arriving batch with ids
    * BELOW the stored max) is out of contract by design: retrofitting
    * low ids would dethrone stored bucket representatives, turning the
    * append into the O(graph) rewrite for every touched bucket — the
    * supported answer is assign backfilled docs fresh (monotone) ids,
    * or rebuild the artifact from the union corpus
    * ([[writeSimilarityGraph]]); the require's message makes the
    * contract impossible to trip silently.
    *
    * CRASH/REPLAY: the append is a two-step commit (edges, then
    * index). A crash AFTER the index append fail-fasts on replay (the
    * batch's own ids are the stored max, so the monotone require
    * trips). A crash BEFORE the index append is self-healing: on
    * entry, stored edges with doc_b ABOVE the stored index max —
    * possible only as debris of a crashed attempt whose sigs never
    * reached the index — are scrubbed, so replaying the same batch is
    * IDEMPOTENT, and debris of an ABANDONED crashed batch is rolled
    * back even when recovery moves on to higher ids instead of
    * replaying (StreamingSpec replays a two-batch stream; SimGraphSpec
    * plants crash debris directly — replayed and abandoned — and
    * asserts the converged artifact).
    *
    * What a from-scratch union build would change, and how the append
    * reproduces it exactly:
    *  - NEW edges (involving >= 1 batch doc): band-join the batch's
    *    bands against the stored index with MERGED bucket stats (old
    *    partials + this batch's counts — the
    *    [[minhashPairsAgainstIndex]] merge convention). Merged-under-
    *    cap buckets emit new×old (old members from `band_rows`,
    *    complete because merged n <= cap implies every old partial
    *    <= cap) and new×new pairs; merged-over-cap buckets emit the
    *    star through the merged min. Then the usual signature verify.
    *  - RETRACTED edges: a bucket that CROSSES the cap (2 <= old n
    *    <= cap, merged n > cap — below 2 old members no old pair
    *    exists to retract) emitted all-pairs in the old build but emits
    *    only the star in a union build — stored old×old pairs inside
    *    it LOSE that bucket's support. Each such pair (bounded:
    *    <= cap² per crossing bucket) is re-checked against every band
    *    bucket it shares under merged stats; pairs with no remaining
    *    support are rewritten away ([[compactSignatureIndex]]'s
    *    DirSwap convention). No crossing buckets (the common append) →
    *    pure file-add, no rewrite.
    *
    * Shape at 100 TB: per batch, one narrow signature pass over the
    * batch, band equi-joins against stored narrow tables, a verify
    * join ∝ the batch's candidates, and — only when a bucket crosses
    * the cap — one anti-join rewrite of the edge list (∝ the graph,
    * not the corpus; production sizes the cap so crossings are
    * rare). */
  def appendSimilarityGraph(newDocs: DataFrame, path: String,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    val idx = s"$path/index"
    val newSigs = newDocs
      .select(col(idCol).as("doc_id"), minhashSignature(col(textCol), p).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val oldSigs = spark.read.parquet(s"$idx/sigs")
      val bounds = newSigs.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
      if (!bounds.isNullAt(0)) { // empty batch: nothing to do
        // an EMPTY built index (corpus snapshot had no docs) accepts
        // any batch — there are no stored representatives to protect
        val oldMaxRow = oldSigs.agg(max(col("doc_id"))).collect()(0)
        val oldMax = if (oldMaxRow.isNullAt(0)) Long.MinValue else oldMaxRow.getLong(0)
        require(bounds.getLong(0) > oldMax,
          s"appendSimilarityGraph: batch min id ${bounds.getLong(0)} <= stored " +
            s"max id $oldMax — batch ids must be monotone (the ingest contract " +
            "that keeps stored star-edge representatives canonical)")

        // REPLAY GUARD (round-15 ADVICE): the index is grown LAST (the
        // edge derivation must see pre-append stats), so a crash between
        // the edges write below and writeIndexFromSigs leaves that
        // batch's edges stored while its sigs never reached the index —
        // a replayed micro-batch then passes the monotone require and
        // would double-append its edges. Every edge this function emits
        // carries a batch doc in doc_b (new×old orients the old id
        // first; new×new and star pairs order by id), while a cleanly
        // committed artifact has BOTH ids <= the stored index max — so
        // stored edges with doc_b > oldMax can only be debris from a
        // crashed prior attempt whose docs never reached the index.
        // The predicate is the INDEX max, not this batch's min
        // (round-16 review): debris of an ABANDONED crashed batch whose
        // ids sit below the current batch's min (recovery moved on
        // instead of replaying) would survive a batch-min scrub and be
        // served forever despite its docs not existing in the index.
        // Scrubbing above the index max catches both cases: replay of
        // the same batch is idempotent, and an abandoned half-batch is
        // rolled back to "never happened" (consistent with its absence
        // from the index) no matter where its ids fall. The existence
        // probe is a pushed min/max-stats filter over the narrow edge
        // list — row groups without debris are skipped.
        val debris = spark.read.parquet(s"$path/edges")
          .filter(col("doc_b") > oldMax)
        if (!debris.isEmpty)
          graft.core.DirSwap.replace(spark, s"$path/edges")(
            spark.read.parquet(s"$path/edges")
              .filter(col("doc_b") <= oldMax)
              .write.mode("overwrite").parquet(_))

        val nb = explodedBands(newSigs, "doc_id", p)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nstats = nb.groupBy(col("band_idx"), col("band_hash"))
          .agg(count(lit(1)).as("nn"), min(col("doc_id")).as("nmin"))
        val ostats = spark.read.parquet(s"$idx/band_stats")
          .groupBy(col("band_idx"), col("band_hash"))
          .agg(sum(col("n")).as("on"), min(col("min_id")).as("omin"))
        // merged stats for every bucket the batch touches
        val touched = nstats.join(ostats, Seq("band_idx", "band_hash"), "left")
          .select(col("band_idx"), col("band_hash"),
            coalesce(col("on"), lit(0L)).as("on"), col("nn"),
            (coalesce(col("on"), lit(0L)) + col("nn")).as("mn"),
            least(coalesce(col("omin"), col("nmin")), col("nmin")).as("mmin"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val rows = spark.read.parquet(s"$idx/band_rows")
        val underB = touched.filter(col("mn") <= p.maxBucketSize)
          .select(col("band_idx"), col("band_hash"))
        // merged-under-cap: new×old (monotone ids orient old first)
        val candNewOld = nb.join(underB, Seq("band_idx", "band_hash"))
          .join(rows, Seq("band_idx", "band_hash"))
          .select(col("old_id").as("doc_a"), col("doc_id").as("doc_b"))
        // merged-under-cap: new×new within the bucket
        val nbU = nb.join(underB, Seq("band_idx", "band_hash"))
        val candNewNew = nbU.as("a")
          .join(nbU.as("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.band_hash") === col("b.band_hash") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        // merged-over-cap: the star through the merged (= old, by
        // monotonicity, unless the bucket is batch-only) min
        val candStar = nb
          .join(touched.filter(col("mn") > p.maxBucketSize)
            .select(col("band_idx"), col("band_hash"), col("mmin")),
            Seq("band_idx", "band_hash"))
          .filter(col("doc_id") =!= col("mmin"))
          .select(col("mmin").as("doc_a"), col("doc_id").as("doc_b"))
        val cand = candNewOld.union(candNewNew).union(candStar).distinct()
        val allSigs = oldSigs.unionByName(newSigs)
        val newEdges = verifyPairs(cand, allSigs, p)

        // on >= 2: a bucket with 0 or 1 stored members holds no old
        // pair, so nothing can lose support — without this, a batch-
        // only over-cap bucket (on = 0) would trigger the O(graph)
        // rewrite on an append that cannot retract anything
        val crossing = touched
          .filter(col("on") >= 2 &&
            col("on") <= p.maxBucketSize && col("mn") > p.maxBucketSize)
          .select(col("band_idx"), col("band_hash"), col("mmin"))
        if (crossing.isEmpty) {
          newEdges.write.mode("append").parquet(s"$path/edges")
        } else {
          // old×old pairs inside crossing buckets: the only stored
          // edges whose candidate support a union build could drop
          val aff = rows.join(crossing, Seq("band_idx", "band_hash"))
          val affPairs = aff.as("a")
            .join(aff.as("b"),
              col("a.band_idx") === col("b.band_idx") &&
                col("a.band_hash") === col("b.band_hash") &&
                col("a.old_id") < col("b.old_id"))
            .select(col("a.old_id").as("x"), col("b.old_id").as("y"))
            .distinct().persist(StorageLevel.MEMORY_AND_DISK)
          val affIds = affPairs.select(col("x").as("doc_id"))
            .union(affPairs.select(col("y").as("doc_id"))).distinct()
          val affBands = explodedBands(
            oldSigs.join(affIds, Seq("doc_id"), "left_semi"), "doc_id", p)
          val mergedAll = spark.read.parquet(s"$idx/band_stats")
            .select(col("band_idx"), col("band_hash"), col("n"), col("min_id"))
            .unionByName(nstats.select(col("band_idx"), col("band_hash"),
              col("nn").as("n"), col("nmin").as("min_id")))
            .groupBy(col("band_idx"), col("band_hash"))
            .agg(sum(col("n")).as("mn"), min(col("min_id")).as("mmin"))
          // a pair keeps candidacy iff SOME shared bucket is merged-
          // under-cap or stars through one of its endpoints
          val sharedBuckets = affBands.as("a")
            .join(affBands.as("b"),
              col("a.band_idx") === col("b.band_idx") &&
                col("a.band_hash") === col("b.band_hash") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.band_idx").as("band_idx"),
              col("a.band_hash").as("band_hash"),
              col("a.doc_id").as("sx"), col("b.doc_id").as("sy"))
            .join(affPairs,
              col("sx") === col("x") && col("sy") === col("y"), "left_semi")
          val support = sharedBuckets
            .join(mergedAll, Seq("band_idx", "band_hash"))
            .filter(col("mn") <= p.maxBucketSize ||
              col("sx") === col("mmin") || col("sy") === col("mmin"))
            .select(col("sx").as("x"), col("sy").as("y"))
          val retract = affPairs.except(support)
          val kept = spark.read.parquet(s"$path/edges")
            .join(retract,
              col("doc_a") === col("x") && col("doc_b") === col("y"),
              "left_anti")
          graft.core.DirSwap.replace(spark, s"$path/edges")(
            kept.unionByName(newEdges).write.mode("overwrite").parquet(_))
          affPairs.unpersist()
        }
        touched.unpersist(); nb.unpersist()
        // grow the index last: edge derivation above must see the
        // PRE-append stats/rows
        writeIndexFromSigs(newSigs, idx, p, "append")
      }
    } finally newSigs.unpersist()
  }

  /** Compact a grown similarity-graph artifact after a run of
    * appends — the lifecycle's fourth verb, same trigger as the
    * sketch/postings compactors (file-count growth): `edges/`
    * collapses its per-append files into one write (a pure rewrite —
    * the edge SET is unchanged, SimGraphSpec asserts), and the
    * signature index gets [[compactSignatureIndex]] (bucket partials
    * merged to one row, rows of buckets that crossed the cap across
    * appends dropped). Appends compose identically before and after. */
  def compactSimilarityGraph(spark: org.apache.spark.sql.SparkSession,
      path: String, p: MinHashParams = MinHashParams()): Unit = {
    graft.core.DirSwap.replace(spark, s"$path/edges")(
      spark.read.parquet(s"$path/edges").write.mode("overwrite").parquet(_))
    compactSignatureIndex(spark, s"$path/index", p)
  }

  /** DELETE documents from a [[writeSimilarityGraph]] artifact — the
    * takedown / right-to-be-forgotten verb every production
    * training-data pipeline eventually runs (round-16 verdict #1), and
    * the first of the artifact family's delete verbs: after this call
    * the artifact (edges + signature index + any existing sidecars)
    * EQUALS a from-scratch [[writeSimilarityGraph]] build over the
    * surviving corpus — edge for edge, probe for probe
    * (SimGraphDeleteSpec asserts; the gated q_dedup_delete /
    * q_dedup_clusters_delete compare against plain from-scratch
    * oracles over the survivors, which never see the deletion path).
    * Ids absent from the index are ignored (idempotent re-runs,
    * partial takedown lists).
    *
    * WHY the update is exact without re-reading any text: deletion
    * only SHRINKS band buckets, so a surviving pair never loses LSH
    * support — a bucket under the cap stays under it, and a star
    * whose representative survives keeps pointing at it (the merged
    * min can only move UP when the old min dies). The full delta is:
    *
    *  - REMOVED edges: exactly the stored edges touching a deleted id
    *    (two broadcast anti equi-joins over the narrow edge list).
    *  - ADDED edges (support that a from-scratch build over survivors
    *    has and the stored graph could not): survivor pairs in TOUCHED
    *    buckets (buckets containing a deleted doc — every other
    *    bucket's stats and membership are unchanged) of two kinds:
    *    (a) buckets that DROP under the cap (old merged n > cap,
    *    surviving n <= cap): the from-scratch build emits all pairs
    *    where the stored graph only had the star; (b) buckets STAYING
    *    over the cap whose merged MIN died: the star re-points at the
    *    surviving min. Both are bounded per touched bucket (<= cap²
    *    resp. O(bucket)); candidates are verified against stored
    *    survivor signatures exactly like a build.
    *
    * Membership of touched buckets is re-derived by banding the
    * SURVIVOR SIGNATURES (one narrow pass over the stored sig index,
    * semi-joined map-side against the broadcast touched-bucket set) —
    * necessary because over-cap buckets never stored member rows, and
    * sufficient because band hashes are a pure function of the stored
    * sig. Deletion cost therefore tracks THE INDEX (~0.4 KB/doc
    * narrow columns) plus the edge rewrite — never the corpus text —
    * and production batches takedowns the way it batches ingest
    * (BASELINE.md's deletion-cost row measures cost vs deleted-set size).
    *
    * CRASH/REPLAY: two directory swaps — edges first, then the whole
    * index ([[graft.core.DirSwap]] each). Re-running the SAME delete
    * converges from every crash point: before the edge swap nothing
    * changed; between the swaps the re-run recomputes from the intact
    * pre-delete index, finds the edges already clean (new candidates
    * anti-join away against the kept edges) and completes the index
    * rewrite; after both swaps the re-run is a no-op (the ids are
    * gone from the index and no stored edge touches them).
    *
    * SIDECARS: deletion can SPLIT components and REMOVE triangles, so
    * the exact sidecars (labels, tri) are REBUILT from the current
    * edges whenever their meta no longer matches — the
    * watermark-heuristic delta detection of the refresh verbs is an
    * APPEND protocol and deletion can fool it (e.g. deleting only
    * above-watermark edges), so the delete verb refreshes explicitly
    * instead of relying on it. The iterative sidecars (rank, LP) take
    * their ordinary warm refresh: any stored state is a valid start
    * and the stop test runs against the current edges. A sidecar that
    * does not exist is skipped.
    *
    * ID REUSE: after deleting the highest ids, a later append may
    * legally reuse them (the monotone require checks the SURVIVING
    * index max) — a recycled id is simply a fresh document. */
  /** Stage the SURVIVOR rewrite of a signature index into `tmpIdx`
    * (sigs + band_stats + band_rows) — the shared half of the two
    * delete verbs ([[deleteFromSimilarityGraph]] /
    * [[deleteFromSignatureIndex]]); the CALLER swaps the staged dir in
    * (ordering matters for the graph verb: edges first, index
    * second). Untouched buckets never held a deleted doc, so their
    * stats and rows carry over exactly; touched buckets get the
    * re-derived survivor stats, and their member rows are
    * re-materialized complete when the surviving count is under the
    * cap (over-cap rows are never read — the star rule uses the
    * merged min). */
  private def stageIndexSurvivors(spark: org.apache.spark.sql.SparkSession,
      idx: String, tmpIdx: String, survivors: DataFrame, touched: DataFrame,
      survTouched: DataFrame, newStats: DataFrame, p: MinHashParams): Unit = {
    survivors.write.mode("overwrite").parquet(s"$tmpIdx/sigs")
    spark.read.parquet(s"$idx/band_stats")
      .join(broadcast(touched), Seq("band_idx", "band_hash"), "left_anti")
      .unionByName(newStats.select(col("band_idx"), col("band_hash"),
        col("nn").as("n"), col("nmin").as("min_id")))
      .write.mode("overwrite").parquet(s"$tmpIdx/band_stats")
    spark.read.parquet(s"$idx/band_rows")
      .join(broadcast(touched), Seq("band_idx", "band_hash"), "left_anti")
      .unionByName(survTouched
        .join(broadcast(newStats.filter(col("nn") <= p.maxBucketSize)
          .select(col("band_idx"), col("band_hash"))),
          Seq("band_idx", "band_hash"), "left_semi")
        .select(col("band_idx"), col("band_hash"), col("doc_id").as("old_id")))
      .write.mode("overwrite").parquet(s"$tmpIdx/band_rows")
  }

  def deleteFromSimilarityGraph(spark: org.apache.spark.sql.SparkSession,
      path: String, deletedIds: DataFrame,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id"): Unit = {
    val idx = s"$path/index"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val del = deletedIds.select(col(idCol).as("doc_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sigs = spark.read.parquet(s"$idx/sigs")
      val delSigs = sigs.join(broadcast(del), Seq("doc_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val edges0 = spark.read.parquet(s"$path/edges")
      val edgesTouchingDel = edges0
        .join(broadcast(del.withColumnRenamed("doc_id", "doc_a")), Seq("doc_a"), "left_semi")
        .unionByName(edges0
          .join(broadcast(del.withColumnRenamed("doc_id", "doc_b")), Seq("doc_b"), "left_semi"))
      val anythingStored = !delSigs.isEmpty
      if (anythingStored || !edgesTouchingDel.isEmpty) {
        val survivors = sigs.join(broadcast(del), Seq("doc_id"), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
        // touched buckets: every bucket a deleted doc was banded into
        val touched = explodedBands(delSigs, "doc_id", p)
          .select(col("band_idx"), col("band_hash")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        // surviving membership of touched buckets: one narrow pass
        // over the survivor sigs, map-side semi against the broadcast
        // touched set
        val survTouched = explodedBands(survivors, "doc_id", p)
          .join(broadcast(touched), Seq("band_idx", "band_hash"), "left_semi")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val oldStats = spark.read.parquet(s"$idx/band_stats")
          .join(broadcast(touched), Seq("band_idx", "band_hash"), "left_semi")
          .groupBy(col("band_idx"), col("band_hash"))
          .agg(sum(col("n")).as("on"), min(col("min_id")).as("omin"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val newStats = survTouched
          .groupBy(col("band_idx"), col("band_hash"))
          .agg(count(lit(1)).as("nn"), min(col("doc_id")).as("nmin"))
          .persist(StorageLevel.MEMORY_AND_DISK)

        // (a) buckets dropping under the cap: all survivor pairs
        val dropping = oldStats.join(newStats, Seq("band_idx", "band_hash"))
          .filter(col("on") > p.maxBucketSize && col("nn") <= p.maxBucketSize)
          .select(col("band_idx"), col("band_hash"))
        val stDrop = survTouched
          .join(broadcast(dropping), Seq("band_idx", "band_hash"), "left_semi")
        val candDrop = stDrop.as("a")
          .join(stDrop.as("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.band_hash") === col("b.band_hash") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        // (b) buckets staying over the cap whose merged min died: the
        // star re-points at the surviving min
        val staying = oldStats.join(newStats, Seq("band_idx", "band_hash"))
          .filter(col("nn") > p.maxBucketSize)
          .join(broadcast(del.withColumnRenamed("doc_id", "omin")),
            Seq("omin"), "left_semi")
          .select(col("band_idx"), col("band_hash"), col("nmin"))
        val candStar = survTouched
          .join(broadcast(staying), Seq("band_idx", "band_hash"))
          .filter(col("doc_id") =!= col("nmin"))
          .select(col("nmin").as("doc_a"), col("doc_id").as("doc_b"))
        val cand = candDrop.union(candStar).distinct()

        // explicit re-projection: a USING join moves its key column to
        // the front, which would silently write (doc_b, doc_a, ...)
        val kept = edges0
          .join(broadcast(del.withColumnRenamed("doc_id", "doc_a")), Seq("doc_a"), "left_anti")
          .join(broadcast(del.withColumnRenamed("doc_id", "doc_b")), Seq("doc_b"), "left_anti")
          .select(col("doc_a"), col("doc_b"), col("minhash_matches"))
        // a candidate already stored (it had support from another,
        // untouched bucket) keeps its stored row — also what makes the
        // crash-replay converge instead of double-appending
        val newCand = cand
          .join(kept.select(col("doc_a"), col("doc_b")),
            Seq("doc_a", "doc_b"), "left_anti")
        val newEdges = verifyPairs(newCand, survivors, p)

        // stage the edge rewrite, then the whole-index rewrite, THEN
        // swap in that order (see CRASH/REPLAY above)
        kept.unionByName(newEdges)
          .write.mode("overwrite").parquet(s"$path/edges_compacting")
        if (anythingStored)
          stageIndexSurvivors(spark, idx, s"$idx-compacting",
            survivors, touched, survTouched, newStats, p)
        graft.core.DirSwap.swap(fs,
          new org.apache.hadoop.fs.Path(s"$path/edges"),
          new org.apache.hadoop.fs.Path(s"$path/edges_compacting"))
        if (anythingStored)
          graft.core.DirSwap.swap(fs,
            new org.apache.hadoop.fs.Path(idx),
            new org.apache.hadoop.fs.Path(s"$idx-compacting"))
        Seq(delSigs, survivors, touched, survTouched, oldStats, newStats)
          .foreach(_.unpersist())

        // bring any existing sidecars back in line with the rewritten
        // edges (rebuild for the exact ones, warm refresh for the
        // iterative ones — see the scaladoc). UNCONDITIONALLY: the
        // verb KNOWS the edge set was rewritten, and the (watermark,
        // n_edges) heuristic the refresh verbs use is an APPEND
        // protocol a deletion can fool without touching either number
        // (drop k edges touching the deleted min of a staying-over-cap
        // bucket, gain k re-pointed ones — same count, same max id),
        // so gating the re-line on it would serve ghost sidecars
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/labels")))
          writeComponentLabels(spark, path)
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/tri")))
          writeTriangleStats(spark, path)
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/rank")))
          refreshRankScores(spark, path, force = true)
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/lp")))
          refreshLpCommunities(spark, path, force = true)
      } else delSigs.unpersist()
    } finally del.unpersist()
  }

  /** DELETE documents from a standalone [[writeSignatureIndex]]
    * artifact — the same index rewrite as
    * [[deleteFromSimilarityGraph]] without the edge or sidecar halves:
    * after this call, probes ([[minhashPairsAgainstIndex]]) and
    * appends against the index behave exactly as against a
    * from-scratch [[writeSignatureIndex]] over the survivors
    * (DedupSpec asserts probe equivalence). One whole-index DirSwap
    * (ingest `_batches` markers preserved); ids absent from the index
    * are ignored. Cost ∝ the index, never the corpus text. */
  def deleteFromSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, deletedIds: DataFrame,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id"): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val del = deletedIds.select(col(idCol).as("doc_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sigs = spark.read.parquet(s"$path/sigs")
      val delSigs = sigs.join(broadcast(del), Seq("doc_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (!delSigs.isEmpty) {
        val survivors = sigs.join(broadcast(del), Seq("doc_id"), "left_anti")
        val touched = explodedBands(delSigs, "doc_id", p)
          .select(col("band_idx"), col("band_hash")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        val survTouched = explodedBands(survivors, "doc_id", p)
          .join(broadcast(touched), Seq("band_idx", "band_hash"), "left_semi")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val newStats = survTouched
          .groupBy(col("band_idx"), col("band_hash"))
          .agg(count(lit(1)).as("nn"), min(col("doc_id")).as("nmin"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        stageIndexSurvivors(spark, path, s"$path-compacting",
          survivors, touched, survTouched, newStats, p)
        graft.core.DirSwap.swap(fs,
          new org.apache.hadoop.fs.Path(path),
          new org.apache.hadoop.fs.Path(s"$path-compacting"))
        Seq(touched, survTouched, newStats).foreach(_.unpersist())
      }
      delSigs.unpersist()
    } finally del.unpersist()
  }

  /** 32-bit SimHash over tokens (with multiplicity): per bit, tokens
    * vote +1/-1 by their hash bit; the fingerprint sets bits with a
    * positive vote. A narrow per-row projection — no shuffle — using
    * the one-pass native expression [[graft.functions.SimHash32]]
    * (the builtin-composed formulation evaluated 32 interpreted
    * lambdas per token and dominated the dedup bench). */
  def simhash(text: Column): Column =
    ColumnShims.column(SimHash32(ColumnShims.expression(TextFunctions.tokens(text))))

  /** Default LSH parameters for the exact-Jaccard verify path: 6 bands
    * of 2 rows -> P(candidate | jaccard j) = 1-(1-j^2)^6, ~0.99 at the
    * j=1/2 accept threshold and ~0.06 at j=0.1. */
  val JaccardParams: MinHashParams = MinHashParams(numHashes = 12, bands = 6)

  /** Exact distinct-k-shingle Jaccard with MinHash-band blocking: the
    * candidate set is the banded-LSH collision set (high-cardinality
    * blocking key, so bucket sizes track duplicate-cluster sizes, not
    * corpus size); each candidate pair is then verified by the exact
    * integer test `2*inter >= union` (jaccard >= 1/2).
    *
    * The verify intersects SORTED LONG arrays of 60-bit md5-prefix
    * shingle hashes ([[shingleHashes]]), not shingle-string arrays —
    * round-3 verdict: string intersection was megabytes of hashing per
    * candidate pair and 55% of the whole bench. Distinct counts equal
    * the string-distinct counts up to a 60-bit prefix collision, and
    * the oracle shares the hash convention bit-for-bit.
    *
    * This replaces round 2's token-length blocking, whose ~12 distinct
    * buckets made the join quadratic in the corpus with parallelism
    * capped at the bucket count (round-2 verdict #1).
    *
    * Cache lifecycle: callers release the internal persists after
    * their terminal action (`spark.catalog.clearCache()`, as
    * Bench/Verify do, or unpersist; round-3 ADVICE). */
  def jaccardPairs(docs: DataFrame, p: MinHashParams = JaccardParams,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sigs = sigFrame(docs, p, idCol, textCol)
    // eagerCache (round-18): candIds' two branches + both verify joins
    // raced the unfilled candidate cache (see eagerCache)
    val cand = eagerCache(bucketPairs(explodedBands(sigs, "doc_id", p), p.maxBucketSize).distinct())
    // materialize the shingle-hash arrays ONLY for docs that appear in
    // some candidate pair — exact-verify cost scales with the candidate
    // set, not the corpus
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shs = docs
      .join(candIds, docs(idCol) === candIds("doc_id"), "left_semi")
      .select(col(idCol).as("doc_id"),
        shingleHashes(col(textCol), p.shingleK).as("sh"))
    cand
      .join(shs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(shs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        // sorted-merge count (native, zero-alloc) — ShingleHashes emits
        // sorted distinct arrays; SPEC: size(array_intersect(...)),
        // equality asserted in DedupSpec
        ColumnShims.column(IntersectCountSorted(
          ColumnShims.expression(col("sh_a")),
          ColumnShims.expression(col("sh_b")))).as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("sz_sum"))
      .withColumn("uni", col("sz_sum") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
  }

  /** Incremental near-dedup — the ingest-time shape: candidate pairs
    * between NEW documents and an EXISTING corpus only, never
    * old-vs-old (those were resolved when the old corpus was built).
    * Output: (new_id, old_id, minhash_matches) — each new doc's
    * near-dup matches in the existing corpus, ready to drop or link.
    *
    * Shape at 100 TB: in production the old side's signatures/bands
    * are computed ONCE and stored (they are this function's only use
    * of oldDocs — pass a signature table instead of recomputing);
    * per batch the cost is newDocs' narrow signature projection + one
    * equi-join per band against the old band index. Hot old buckets
    * (boilerplate clusters) are capped to their min-id REPRESENTATIVE
    * (every new doc still links to the cluster through it — the
    * asymmetric form of [[bucketPairs]]' star rule), so no
    * band bucket fans out more than maxBucketSize ways. Deterministic,
    * oracle-replicable. */
  def minhashPairsAgainst(newDocs: DataFrame, oldDocs: DataFrame,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // eagerCache (round-18): the band explode and the verify join both
    // consume the old signatures — lazy, they raced the unfilled cache
    val oldSigs = eagerCache(oldDocs
      .select(col(idCol).as("old_id"), minhashSignature(col(textCol), p).as("osig")))
    pairsAgainstSigs(newDocs, oldSigs, p, idCol, textCol)
  }

  /** Exploded (id, band_idx, band_hash) rows of a (id, sig) frame. */
  private def explodedBands(sigs: DataFrame, idCol: String, p: MinHashParams): DataFrame =
    sigs.select(col(idCol),
      posexplode(bandHashes(col("sig"), p)).as(Seq("band_idx", "band_hash")))

  /** Persist the corpus's MinHash signatures AND their band tables as a
    * write-once artifact — the stored signature index the
    * [[minhashPairsAgainst]] scaladoc promises for production (one
    * narrow signature pass per corpus snapshot; every ingest batch
    * afterwards reads signatures, never old text). Layout under `path`:
    *
    *  - `sigs/`       (doc_id, sig array<long>) — the verify side.
    *  - `band_stats/` (band_idx, band_hash, n, min_id) — one PARTIAL
    *    row per bucket PER WRITE (append adds partials; counts and
    *    mins merge associatively at probe time).
    *  - `band_rows/`  (band_idx, band_hash, old_id) — bucket member
    *    lists, written ONLY for buckets whose partial is within the
    *    skew cap; an over-cap partial forces the whole merged bucket
    *    over cap, so its members are never needed (the star rule uses
    *    the merged min from `band_stats`).
    *
    * The skew-cap decision is deliberately NOT baked into the rows at
    * write time: [[minhashPairsAgainstIndex]] re-derives it from the
    * MERGED partial stats, so build+append is bit-identical to a
    * from-scratch build of the union (DedupSpec asserts this) — and
    * the round-8 per-batch cost bug is gone: the old side's explode
    * and skew-cap window now happen once, here, at build time. */
  def writeSignatureIndex(docs: DataFrame, path: String,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    writeIndexPartition(docs, path, p, idCol, textCol, "overwrite")

  /** Append one ingest batch's signatures + band partials to an
    * existing [[writeSignatureIndex]] artifact, so the NEXT batch
    * dedups against this one too — the actual production ingest loop.
    * Probe-time merge of the bucket partials keeps results identical
    * to rebuilding the index from the union (DedupSpec asserts). */
  def appendSignatureIndex(docs: DataFrame, path: String,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    writeIndexPartition(docs, path, p, idCol, textCol, "append")

  /** Compact a grown signature index after a run of appends — the
    * dedup twin of the sketch/postings compactors, and the only one
    * whose merge does real WORK at read time: every probe re-merges
    * the per-append bucket partials (`sum(n)`, `min(min_id)`) and
    * re-filters `band_rows` by the merged count. Compaction
    * materializes that merge once: band_stats collapses to one row
    * per bucket, and band_rows drops the rows of buckets that crossed
    * the skew cap ACROSS appends (each append could only cap within
    * itself — a bucket under the cap in every append but over it
    * merged keeps dead rows the probe never reads). Signatures are
    * rewritten as-is. Probe results are bit-identical before/after
    * (DedupSpec asserts); merged-under-cap buckets always have all
    * their rows because any append-side drop implies the merged count
    * is over the cap too.
    *
    * Shape at 100 TB: one hash aggregate over the (buckets-sized)
    * stats partials, one semi-join filter over band_rows, one rewrite
    * of sigs — all ∝ the index, never the corpus, and the swap is
    * per-subdirectory rename. Run it when probe-side `bn` merges show
    * many multi-partial buckets (the same trigger as the sketch
    * compactors' file-count heuristic). */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, p: MinHashParams = MinHashParams()): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def swapIn(sub: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$path/${sub}_compacting")
    def finish(sub: String): Unit =
      graft.core.DirSwap.swap(fs,
        new org.apache.hadoop.fs.Path(s"$path/$sub"),
        new org.apache.hadoop.fs.Path(s"$path/${sub}_compacting"))
    val stats = spark.read.parquet(s"$path/band_stats")
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(sum(col("n")).as("n"), min(col("min_id")).as("min_id"))
    val under = stats.filter(col("n") <= p.maxBucketSize)
      .select(col("band_idx"), col("band_hash"))
    val rows = spark.read.parquet(s"$path/band_rows")
      .join(under, Seq("band_idx", "band_hash"), "left_semi")
    val sigs = spark.read.parquet(s"$path/sigs")
    // materialize ALL merged frames before swapping any source dir
    swapIn("band_stats", stats)
    swapIn("band_rows", rows)
    swapIn("sigs", sigs)
    finish("band_stats"); finish("band_rows"); finish("sigs")
  }

  private def writeIndexPartition(docs: DataFrame, path: String, p: MinHashParams,
      idCol: String, textCol: String, mode: String): Unit = {
    val sigs = docs
      .select(col(idCol).as("doc_id"), minhashSignature(col(textCol), p).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try writeIndexFromSigs(sigs, path, p, mode)
    finally sigs.unpersist()
  }

  /** One signature-index write (the [[writeSignatureIndex]] layout)
    * from an already-persisted (doc_id, sig) frame — shared with the
    * similarity-graph lifecycle, whose build/append compute the
    * signatures once for both the edge derivation and the index. */
  private def writeIndexFromSigs(sigs: DataFrame, path: String,
      p: MinHashParams, mode: String): Unit = {
    sigs.write.mode(mode).parquet(s"$path/sigs")
    val ex = explodedBands(sigs, "doc_id", p)
    ex.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
      .write.mode(mode).parquet(s"$path/band_stats")
    // the one skew-cap window, over THIS write's rows only (build
    // cost ∝ the batch being written, never the whole index)
    val w = Window.partitionBy(col("band_idx"), col("band_hash"))
    ex.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= p.maxBucketSize)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("old_id"))
      .write.mode(mode).parquet(s"$path/band_rows")
  }

  /** [[minhashPairsAgainst]] over a PERSISTED old-side signature index
    * ([[writeSignatureIndex]] / [[appendSignatureIndex]]): identical
    * output (same oracle), but the old corpus's TEXT is never touched
    * per batch AND — unlike round 8's version, which re-exploded the
    * old side's bands and ran the skew-cap window over the full old
    * corpus on every batch — the per-batch plan touches the old side
    * only through (a) a plain equi-join of the new batch's bands
    * against the stored bucket tables and (b) the final signature
    * verify join. No window, no explode, no aggregation over the old
    * side (PlanShapeSpec pins this), so per-batch cost is proportional
    * to the batch, with index-side scans of narrow stored columns.
    *
    * Bucket-partial merge: `band_stats` holds one (n, min_id) row per
    * bucket per write; after the equi-join restricts to buckets the
    * batch actually touches, partials merge by sum/min (batch-sized
    * aggregation). Merged n <= cap implies every partial was <= cap,
    * so `band_rows` is complete for that bucket; merged n > cap takes
    * the star rule through the merged min — exactly the semantics of
    * computing bn/bmin over the union from scratch.
    *
    * The index is deliberately NOT persisted in memory: its consumers
    * are columnar scans of narrow tables, which at 100 TB should
    * stream from storage rather than occupy the cache pool. */
  def minhashPairsAgainstIndex(newDocs: DataFrame, path: String,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val newSigs = eagerCache(newDocs
      .select(col(idCol).as("new_id"), minhashSignature(col(textCol), p).as("nsig")))
    indexProbePlan(newSigs, path, p)
  }

  /** Eager probe-and-write twin of [[minhashPairsAgainstIndex]] for
    * loops that call it repeatedly (the streaming ingest path): probes
    * the index, appends the match rows to `resultPath`, and RELEASES
    * the batch's persisted signatures when the write completes —
    * try/finally like [[writeIndexPartition]], so a forever-running
    * ingest stream holds no cached frames between micro-batches
    * (round-9 ADVICE: the lazy variant's caller-clearCache convention
    * leaked one frame per micro-batch under foreachBatch). */
  def probeIndexInto(newDocs: DataFrame, path: String, resultPath: String,
      p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val newSigs = newDocs
      .select(col(idCol).as("new_id"), minhashSignature(col(textCol), p).as("nsig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try indexProbePlan(newSigs, path, p).write.mode("append").parquet(resultPath)
    finally newSigs.unpersist()
  }

  /** The probe plan over an already-persisted (new_id, nsig) frame —
    * shared by the lazy and eager index-probe entry points. */
  private def indexProbePlan(newSigs: DataFrame, path: String,
      p: MinHashParams): DataFrame = {
    val spark = newSigs.sparkSession
    val nb = explodedBands(newSigs.withColumnRenamed("nsig", "sig"), "new_id", p)
    val stats = spark.read.parquet(s"$path/band_stats")
    val rows = spark.read.parquet(s"$path/band_rows")
    val merged = nb.join(stats, Seq("band_idx", "band_hash"))
      .groupBy(col("new_id"), col("band_idx"), col("band_hash"))
      .agg(sum(col("n")).as("bn"), min(col("min_id")).as("bmin"))
    val underCand = merged.filter(col("bn") <= p.maxBucketSize)
      .join(rows, Seq("band_idx", "band_hash"))
      .select(col("new_id"), col("old_id"))
    val overCand = merged.filter(col("bn") > p.maxBucketSize)
      .select(col("new_id"), col("bmin").as("old_id"))
    val cand = underCand.union(overCand).distinct()
    val oldSigs = spark.read.parquet(s"$path/sigs")
      .select(col("doc_id").as("old_id"), col("sig").as("osig"))
    cand.join(newSigs, "new_id").join(oldSigs, "old_id")
      .select(col("new_id"), col("old_id"),
        signatureMatches(col("nsig"), col("osig")).as("minhash_matches"))
      .filter(col("minhash_matches") >= p.minMatches)
      // a doc already in the index is not a duplicate of itself — makes
      // probing a batch AFTER appending it safe (no self-pairs)
      .filter(col("new_id") =!= col("old_id"))
  }

  private def pairsAgainstSigs(newDocs: DataFrame, oldSigs: DataFrame,
      p: MinHashParams,
      idCol: String, textCol: String): DataFrame = {
    val newSigs = eagerCache(newDocs
      .select(col(idCol).as("new_id"), minhashSignature(col(textCol), p).as("nsig")))
    val nb = newSigs.select(col("new_id"),
      posexplode(bandHashes(col("nsig"), p)).as(Seq("band_idx", "band_hash")))
    val w = Window.partitionBy(col("band_idx"), col("band_hash"))
    val ob = oldSigs.select(col("old_id"),
        posexplode(bandHashes(col("osig"), p)).as(Seq("band_idx", "band_hash")))
      .withColumn("bn", count(lit(1)).over(w))
      .withColumn("bmin", min(col("old_id")).over(w))
      .filter(col("bn") <= p.maxBucketSize || col("old_id") === col("bmin"))
      .select(col("old_id"), col("band_idx"), col("band_hash"))
    val cand = nb.join(ob, Seq("band_idx", "band_hash"))
      .select(col("new_id"), col("old_id")).distinct()
    cand.join(newSigs, "new_id").join(oldSigs, "old_id")
      .select(col("new_id"), col("old_id"),
        signatureMatches(col("nsig"), col("osig")).as("minhash_matches"))
      .filter(col("minhash_matches") >= p.minMatches)
  }

  /** Passage-level (chunk) exact dedup — sub-document deduplication:
    * split each document into consecutive `chunkTokens`-token windows
    * (stride = width, no overlap; a short tail is its own chunk), hash
    * each chunk, and report every chunk content that occurs more than
    * once across the corpus with its canonical (first) location.
    * Catches boilerplate shared across otherwise-distinct documents —
    * headers, license blocks, navigation — which document-level dedup
    * never sees. Output: (chunk_hash, n_copies, n_docs, keep_doc,
    * keep_chunk) per duplicated chunk content.
    *
    * Shape at 100 TB: chunking is a narrow per-row array slice (no
    * shuffle); the only exchange is the hash aggregation on the chunk
    * hash with map-side partial agg — identical scaling to exact
    * doc-level dedup, at chunk granularity. The kept location is the
    * global first occurrence: min over doc_id * 2^20 + chunk_idx — a
    * single long, so the whole aggregate stays a HashAggregate
    * (min(struct) would force SortAggregate; PlanShapeSpec pins this).
    * 2^20 chunks/doc = 20M+ tokens per document at the default width —
    * far above any real document. */
  def chunkDupes(docs: DataFrame, chunkTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens=$chunkTokens")
    val locBase = 1L << 20
    val toks = TextFunctions.tokens(col(textCol))
    val nChunks = TextFunctions.intDiv(
      size(toks).cast("long") + (chunkTokens - 1), lit(chunkTokens.toLong))
    val chunks = docs.select(
        col(idCol).as("doc_id"),
        posexplode(transform(sequence(lit(0L), nChunks - 1), i =>
          concat_ws(" ", slice(toks, (i * chunkTokens + 1).cast("int"), lit(chunkTokens)))))
          .as(Seq("chunk_idx", "chunk")))
    chunks
      .groupBy(md5(col("chunk").cast("binary")).as("chunk_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id") * locBase + col("chunk_idx")).as("loc"))
      .filter(col("n_copies") > 1)
      .select(col("chunk_hash"), col("n_copies"), col("n_docs"),
        TextFunctions.intDiv(col("loc"), lit(locBase)).as("keep_doc"),
        (col("loc") % locBase).as("keep_chunk"))
  }

  /** CONTENT-DEFINED chunk dedup — the shift-resistant sibling of
    * [[chunkDupes]] (the CDC idea behind Rabin/Gear chunking in
    * production dedup stores, at token granularity): a token is a CUT
    * POINT iff its md5 ends in `zeroNibbles` zero hex digits
    * (probability 16^-zeroNibbles per token → expected chunk length
    * 16^zeroNibbles), and a chunk is the token run up to and
    * including a cut. Because boundaries depend only on token CONTENT,
    * a shared passage chunks IDENTICALLY regardless of its offset —
    * a fixed-window chunker finds the duplicate only when the shared
    * text happens to align with its stride (an inserted header shifts
    * every downstream window), which is exactly the case CDC exists
    * for (spec'd: a passage planted at different offsets dedups here
    * and not under [[chunkDupes]] at the same width). Same output
    * contract as chunkDupes: (chunk_hash, n_copies, n_docs, keep_doc,
    * keep_chunk) per duplicated chunk content, keep = global first
    * occurrence.
    *
    * Shape at 100 TB: one posexplode of the token stream, the
    * boundary flag as a narrow md5 projection, chunk ids by a PER-DOC
    * prefix-sum window (partition-local — the sessionize shape, no
    * corpus-wide sort), per-(doc, chunk) reassembly and the same
    * map-side-combining chunk-hash aggregate as chunkDupes. The per-doc
    * window and the collect_list reassembly serialize each DOCUMENT
    * through one task — fine under the corpus contract that documents
    * are bounded (MBs, not GBs); a corpus of unbounded concatenated
    * streams should be pre-split before chunk-level dedup, same
    * assumption [[chunkDupes]] states. The keep location packs
    * doc_id · 2^20 + chunk_idx into one long (2^20 chunks/doc ≈ 16M+
    * tokens at the default zeroNibbles=1, doc_id < 2^43); both bounds
    * are RUNTIME-GUARDED with raise_error ([[graft.graph.LabelProp]]
    * convention) because the DuckDB oracle packs identically — an
    * overflow would hash-gate as "correct" with a wrong keep location,
    * so the gate here mirrors an assumption unless the plan checks it. */
  def cdcDupes(docs: DataFrame, zeroNibbles: Int = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(zeroNibbles >= 1 && zeroNibbles <= 8, s"zeroNibbles=$zeroNibbles")
    val locBase = 1L << 20
    val t = docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "token")))
    val zeros = "0" * zeroNibbles
    val cut = when(substring(md5(col("token").cast("binary")),
      33 - zeroNibbles, zeroNibbles) === zeros, 1L).otherwise(0L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ch = t
      .select(col("doc_id"), col("pos"), col("token"),
        coalesce(sum(cut).over(w), lit(0L)).as("chunk_idx"))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("token")))),
        s => s.getField("token"))).as("chunk"))
    // fail-fast pack guards (codegen'd branches on rows that exist
    // anyway): silently aliased keep locations would still hash-gate
    // because the oracle packs the same way
    val docGuard = when(col("doc_id") < 0 || col("doc_id") >= (1L << 43),
      raise_error(concat(lit("cdc_dupes: doc_id outside packed range [0, 2^43): "),
        col("doc_id").cast("string"))).cast("long"))
      .otherwise(col("doc_id"))
    val idxGuard = when(col("chunk_idx") >= locBase,
      raise_error(concat(lit("cdc_dupes: chunk_idx >= 2^20 overflows the keep pack: "),
        col("chunk_idx").cast("string"))).cast("long"))
      .otherwise(col("chunk_idx"))
    ch
      .groupBy(md5(col("chunk").cast("binary")).as("chunk_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(docGuard * locBase + idxGuard).as("loc"))
      .filter(col("n_copies") > 1)
      .select(col("chunk_hash"), col("n_copies"), col("n_docs"),
        TextFunctions.intDiv(col("loc"), lit(locBase)).as("keep_doc"),
        (col("loc") % locBase).as("keep_chunk"))
  }

  /** BYTE-LEVEL content-defined chunk dedup — [[cdcDupes]] in the form
    * production dedup stores actually run (Gear/Rabin chunking over
    * the BYTE stream, no tokenizer in the loop): byte position i is a
    * CUT POINT iff the md5 of the `window`-byte sliding window ending
    * at i has `zeroNibbles` trailing zero hex digits (expected chunk
    * length 16^zeroNibbles bytes; positions before one full window
    * are never cuts), a chunk is the byte run up to and including a
    * cut, and the document tail past the last cut is the final chunk.
    * Boundaries depend only on a bounded byte CONTEXT, so a shared
    * byte passage chunks identically at any offset — the
    * shift-resistance contract of [[cdcDupes]], now insensitive to
    * tokenization too (spec'd). Same output contract: (chunk_hash,
    * n_copies, n_docs, keep_doc, keep_chunk), keep = global first
    * occurrence, same pack guards.
    *
    * Shape at 100 TB: cut positions come from ONE native per-document
    * pass ([[graft.functions.CdcCuts]] — hex once, slide the md5
    * window with a reused digest, emit only cuts), so no per-byte row
    * ever exists in the plan and ONLY the ~corpus/16^zeroNibbles cut
    * rows reach the per-doc lag/row_number window — unlike the token
    * variant's all-rows prefix sum. Chunk CONTENT is never exploded:
    * chunks are contiguous ranges, so each is one substring of the
    * doc's hex. Same bounded-document contract as [[cdcDupes]]. The
    * composed per-byte form (position explode + hex join +
    * substring/md5 filter) is the SPEC the native pass is gated
    * against (DedupSpec) and the spelling the DuckDB oracle keeps. */
  def cdcDupesBytes(docs: DataFrame, zeroNibbles: Int = 2, window: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(zeroNibbles >= 1 && zeroNibbles <= 8, s"zeroNibbles=$zeroNibbles")
    require(window >= 1 && window <= 64, s"window=$window")
    val locBase = 1L << 20
    // Round-18: carry only `bin` (the hex string doubled the frame's
    // corpus bytes; each chunk's hex is computed from its byte slice
    // at hash time — hex(substring(bin, s, len)) is exactly the
    // nibble slice hx[(s-1)*2+1, 2*len] the previous form hashed) and
    // eagerCache it: its three consumers (cuts, tails, the chunk-hash
    // join) raced the unfilled cache and re-ran the corpus scan each.
    val h = eagerCache(docs.select(col(idCol).as("doc_id"),
        encode(coalesce(col(textCol), lit("")), "UTF-8").as("bin"))
      .withColumn("nb", length(col("bin")).cast("long"))
      .filter(col("nb") > 0))
    val shims = org.apache.spark.sql.graft.ColumnShims
    // eagerCache: ranges and cutAgg both consume the cut rows
    val cuts = eagerCache(h.select(col("doc_id"),
      explode(shims.column(graft.functions.CdcCuts(
        shims.expression(col("bin")), zeroNibbles, window))).as("i")))
    val w = Window.partitionBy("doc_id").orderBy("i")
    val ranges = cuts.select(col("doc_id"),
      (coalesce(lag(col("i"), 1).over(w), lit(0L)) + 1).as("s"),
      col("i").as("e"),
      (row_number().over(w) - 1).cast("long").as("chunk_idx"))
    val cutAgg = cuts.groupBy(col("doc_id"))
      .agg(max(col("i")).as("mx"), count(lit(1)).as("ncuts"))
    val tails = h.select(col("doc_id"), col("nb"))
      .join(cutAgg, Seq("doc_id"), "left")
      .filter(coalesce(col("mx"), lit(0L)) < col("nb"))
      .select(col("doc_id"),
        (coalesce(col("mx"), lit(0L)) + 1).as("s"),
        col("nb").as("e"),
        coalesce(col("ncuts"), lit(0L)).as("chunk_idx"))
    val ch = ranges.unionByName(tails)
      .join(h.select(col("doc_id"), col("bin")), Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"),
        md5(hex(col("bin")
            .substr(col("s").cast("int"), (col("e") - col("s") + 1).cast("int")))
          .cast("binary")).as("chunk_hash"))
    val docGuard = when(col("doc_id") < 0 || col("doc_id") >= (1L << 43),
      raise_error(concat(lit("cdc_dupes_bytes: doc_id outside packed range [0, 2^43): "),
        col("doc_id").cast("string"))).cast("long"))
      .otherwise(col("doc_id"))
    val idxGuard = when(col("chunk_idx") >= locBase,
      raise_error(concat(lit("cdc_dupes_bytes: chunk_idx >= 2^20 overflows the keep pack: "),
        col("chunk_idx").cast("string"))).cast("long"))
      .otherwise(col("chunk_idx"))
    ch
      .groupBy(col("chunk_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(docGuard * locBase + idxGuard).as("loc"))
      .filter(col("n_copies") > 1)
      .select(col("chunk_hash"), col("n_copies"), col("n_docs"),
        TextFunctions.intDiv(col("loc"), lit(locBase)).as("keep_doc"),
        (col("loc") % locBase).as("keep_chunk"))
  }

  /** Boilerplate REMOVAL — the corpus-rewriting complement of
    * [[chunkDupes]] (which only reports duplicates): drop every token
    * window whose text appears in more than `maxDf` distinct documents
    * (headers, footers, license blocks, navigation chrome — the CCNet/
    * RefinedWeb cleaning step), and reassemble each document from its
    * surviving chunks in order. Output: (doc_id, clean_text,
    * n_dropped) for EVERY input document (a fully-boilerplate doc
    * comes back with clean_text = "" — callers drop or keep by
    * n_dropped, the operator never loses rows).
    *
    * Shape at 100 TB: chunking is the same narrow projection as
    * [[chunkDupes]]; the df count is one partial-agg'd hash shuffle on
    * chunk hash; the boilerplate dictionary (chunks with df > maxDf)
    * is then BROADCAST for the membership probe, and reassembly is one
    * groupBy(doc_id) with an in-group array_sort. Broadcast
    * boundedness CONTRACT: distinct chunks exceeding maxDf docs number
    * at most totalChunks / maxDf, and boilerplate is by definition the
    * thin head of the chunk-frequency distribution — production tunes
    * maxDf so the dictionary is ≪ corpus (it is 15 chunks at sf0.01);
    * a corpus where it is not (maxDf too low) should raise maxDf or
    * swap the broadcast for a shuffled anti-join with AQE skew
    * handling, trading the hot-chunk reducer for dictionary size. Only
    * hashes travel in the broadcast, not chunk text. */
  def removeBoilerplate(docs: DataFrame, chunkTokens: Int = 10, maxDf: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && maxDf >= 1, s"chunkTokens=$chunkTokens maxDf=$maxDf")
    val toks = TextFunctions.tokens(col(textCol))
    val nChunks = TextFunctions.intDiv(
      size(toks).cast("long") + (chunkTokens - 1), lit(chunkTokens.toLong))
    // eagerCache (round-18): the df aggregate and the rewrite join both
    // consume the chunk explode — unpersisted it ran twice (full corpus
    // scan + re-chunk each). The cache is corpus-sized (it carries the
    // chunk text the rewrite must re-emit anyway); MEMORY_AND_DISK
    // spills, and at 100 TB a rewrite pipeline materializes this
    // intermediate regardless — the alternative is two corpus passes.
    val chunks = eagerCache(docs.select(
        col(idCol).as("doc_id"),
        posexplode(transform(sequence(lit(0L), nChunks - 1), i =>
          concat_ws(" ", slice(toks, (i * chunkTokens + 1).cast("int"), lit(chunkTokens)))))
          .as(Seq("chunk_idx", "chunk")))
      .withColumn("chunk_hash", md5(col("chunk").cast("binary"))))
    val boiler = chunks
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > maxDf)
      .select(col("chunk_hash"), lit(true).as("bp"))
    chunks
      .join(broadcast(boiler), Seq("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("bp").isNull, struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk"))).as("clean_text"),
        count(col("bp")).as("n_dropped"))
  }

  /** Parameters for [[substrPairs]]. Guarantee: any passage of at
    * least `w + k - 1` tokens (11 at the defaults) shared VERBATIM
    * between two documents — at ANY offset in either — produces at
    * least one shared winnowing anchor, so the pair is reported.
    * maxDf drops anchors appearing in more than maxDf documents
    * (ubiquitous boilerplate), the same deterministic hot-key cap as
    * decontamination's posting df-cap. */
  final case class SubstrParams(
      k: Int = 8,
      w: Int = 4,
      maxDf: Int = 50,
      minAnchors: Int = 1)

  /** Exact substring dedup (Lee et al. 2022's problem, winnowing
    * selection): find document pairs sharing a verbatim token run of
    * >= w + k - 1 tokens at ARBITRARY offsets — the duplicates
    * [[chunkDupes]]' fixed non-overlapping windows miss whenever the
    * shared passage is aligned differently in the two documents.
    *
    * Shape at 100 TB:
    *  - anchor selection is a NARROW native scan
    *    ([[graft.functions.WinnowAnchors]]): no corpus-wide window
    *    function, no shuffle — each doc emits ~2/(w+1) of its shingle
    *    positions as anchors;
    *  - the only exchanges are one partial-agg groupBy collapsing
    *    repeated in-doc anchors and the anchor-hash equi-join, whose
    *    per-key fan-out the df-cap bounds at maxDf^2 — no all-pairs
    *    stage anywhere;
    *  - the join verifies the k-token shingle STRING, not just the
    *    60-bit hash, so reported pairs are exact (no false positives).
    *
    * Output: (doc_a, doc_b, n_anchors, a_off, b_off) — shared-anchor
    * count and each side's first shared-anchor token offset. The
    * DuckDB oracle recomputes the selection independently with window
    * functions (graft.oracle.DocSql.substrPairs).
    *
    * Cache lifecycle: callers release the internal persist after
    * their terminal action (as with [[jaccardPairs]]). */
  def substrPairs(docs: DataFrame, p: SubstrParams = SubstrParams(),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    // scale-adaptive widen (see [[widen]]): the winnowing-anchor pass
    // is pure CPU and ran single-task off a one-row-group corpus file
    // (profiled 450 ms serial at sf0.1); at scan-parallel inputs no
    // exchange is added
    val anchors = widen(docs.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("doc_id"), toks.as("toks"),
        ColumnShims.column(WinnowAnchors(ColumnShims.expression(toks), p.k, p.w)).as("offs"))
      .select(col("doc_id"), explode(col("offs")).as("off0"), col("toks"))
      // rebuild only the ANCHOR shingles (~2/(w+1) of positions) from
      // the token array — materializing the full shingle-string array
      // would blow text size up ~k-fold before the explode
      .select(col("doc_id"), col("off0").cast("long").as("off"),
        when(size(col("toks")) >= p.k,
          concat_ws(" ", slice(col("toks"), col("off0") + 1, lit(p.k))))
          .otherwise(concat_ws(" ", col("toks"))).as("s"))
      .withColumn("h",
        conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10).cast("long"))
      // one anchor per (doc, shingle content): repeated in-doc
      // passages keep their first offset, and the join below stays
      // one-row-per-shared-anchor
      .groupBy(col("doc_id"), col("h"), col("s"))
      .agg(min(col("off")).as("off"))
    // eagerCache (round-18): rare + both join sides raced the unfilled
    // cache — the winnowing-anchor scan ran twice (profiled 45 s + 22 s
    // of executor run time at sf0.1)
    val anchorsC = eagerCache(anchors)
    val rare = anchorsC.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= p.maxDf)
      .select(col("h"))
    val capped = anchorsC.join(rare, Seq("h"))
    val a = capped.select(col("h"), col("s"),
      col("doc_id").as("doc_a"), col("off").as("a_first"))
    val b = capped.select(col("h").as("h_b"), col("s").as("s_b"),
      col("doc_id").as("doc_b"), col("off").as("b_first"))
    a.join(b, col("h") === col("h_b") && col("s") === col("s_b") &&
        col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_anchors"),
        min(col("a_first")).as("a_off"), min(col("b_first")).as("b_off"))
      .filter(col("n_anchors") >= p.minAnchors)
  }

  /** Connected components of an undirected pair graph by iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round a node takes the minimum of its label and its
    * neighbors' labels; at convergence every node carries its
    * component's minimum id. Works on ANY near-dup pair frame —
    * [[minhashPairs]], [[jaccardPairs]],
    * [[graft.similarity.Similarity.cosinePairs]] — as long as the two
    * id columns share a key space.
    *
    * Shape at 100 TB, two regimes by pair-graph size
    * ([[LocalSolveEdges]]): below the threshold the collapse is an
    * exact driver-side union-find (pair graphs are duplicate-sized,
    * not corpus-sized — the bounded endgame, like a broadcast join's
    * small side); above it, distributed supersteps of [[SubSteps]]
    * fused equi-join + partial-min-aggregation propagation sub-steps
    * plus one pointer-jump join (see the superstep comment in the
    * loop) — no all-pairs stage; materialized rounds needed ≈
    * (min-node eccentricity) / SubSteps. LSH bucket graphs keep that
    * ≤ 1 by construction (cliques and stars from
    * [[bucketPairs]]); THRESHOLD pair graphs (semantic dedup's
    * near-threshold cosine chains, measured eccentricity 14 at sf0.1)
    * converge in a handful — the same regime where published
    * MapReduce connected-components algorithms (Kiveris et al. 2014's
    * two-phase / star contractions) operate. Both branches reach the
    * identical fixpoint (asserted in DedupSpec). Convergence is checked,
    * not assumed (one count per round), and each round's labels are
    * eagerly localCheckpoint'ed: an iterative plan whose input is its
    * own previous output doubles its lineage every round — truncating
    * it is mandatory, not an optimization (without it, plan
    * construction alone goes exponential; a 9-node path OOM'd the
    * driver building plan *strings*). The label frame is two longs per
    * node in some pair — tiny next to the corpus — so executor-local
    * checkpoint storage holds at any scale (a production run on a
    * preemptible cluster would point `checkpoint()` at reliable
    * storage instead, same shape).
    *
    * Output: (id, lbl) for every node that appears in some pair.
    * Deterministic: min is order-independent, so the result is a pure
    * function of the edge set. */
  /** Rounds the most recent [[connectedComponents]] call took to
    * converge — a diagnostic for bench/plan analysis (docs/PLANS.md
    * records the value per scale factor). */
  @volatile var lastConvergenceRounds: Int = 0

  /** Propagation sub-steps fused into each materialized job of
    * [[connectedComponents]] — see the superstep comment in the loop. */
  val SubSteps: Int = 3

  /** Edge-count threshold below which [[connectedComponents]] solves
    * the component collapse on the driver with an exact union-find
    * instead of iterating distributed label rounds. Near-dup pair
    * graphs are orders of magnitude smaller than the corpus (pairs ∝
    * actual duplicates), and each distributed round costs fixed
    * job/barrier overhead regardless of size — at sf0.1 the semantic
    * chain graph (748 edges, min-eccentricity 14) spent ~10 s on
    * rounds a union-find solves in microseconds. The solve is pure
    * primitive arrays (see the branch): 16 B/edge + 12 B/node steady
    * plus a transient collect buffer — ~200 MB + ~200 MB transient at
    * the 5M-edge / 10M-node worst case, the same driver-memory-bounded
    * endgame trade Spark itself makes for broadcast joins; graphs
    * above the threshold take the fully-distributed loop, identical
    * fixpoint (asserted for both branches in DedupSpec). */
  val LocalSolveEdges: Long = 5000000L

  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxRounds: Int = 50, localSolveEdges: Long = LocalSolveEdges): DataFrame = {
    // ONE reference to `pairs`, persisted and counted (the count fills
    // the cache): the caller's pair pipeline runs once whichever branch
    // is taken. The threshold is on directed edges, 2 per pair.
    val ends = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = ends.count()
    if (2 * nPairs <= localSolveEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // Primitive-array union-find (round-7 ADVICE: the earlier boxed
      // HashMap[Long,Long] cost ~50-100 bytes/node — plausibly 0.5-1 GB
      // at the threshold). Here the steady footprint is exact and
      // small: 16 B/pair (two long arrays) + 12 B/node (sorted id
      // array + int parent array) — at the 5M-edge / <=10M-node
      // threshold, 40 MB + 120 MB, plus a transient Array[Row] from
      // the collect (~40 B/pair, released before the solve). Same
      // driver-memory order as a large broadcast join. Union-find is
      // undirected, so the pairs are collected as they are, not
      // symmetrized.
      val rows = ends.collect()
      ends.unpersist()
      val m = rows.length
      val srcs = new Array[Long](m)
      val dsts = new Array[Long](m)
      var i = 0
      while (i < m) {
        srcs(i) = rows(i).getLong(0); dsts(i) = rows(i).getLong(1); i += 1
      }
      // distinct sorted node ids: index order == id order, so a
      // component's minimal ROOT INDEX is also its minimal id
      val all = new Array[Long](2 * m)
      System.arraycopy(srcs, 0, all, 0, m)
      System.arraycopy(dsts, 0, all, m, m)
      java.util.Arrays.sort(all)
      var nNodes = 0
      i = 0
      while (i < all.length) {
        if (nNodes == 0 || all(nNodes - 1) != all(i)) { all(nNodes) = all(i); nNodes += 1 }
        i += 1
      }
      val nodes = java.util.Arrays.copyOf(all, nNodes)
      val parent = new Array[Int](nNodes)
      i = 0
      while (i < nNodes) { parent(i) = i; i += 1 }
      // path halving; unions always point the larger root at the
      // smaller, so every root stays its component's minimum
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      i = 0
      while (i < m) {
        val ra = find(java.util.Arrays.binarySearch(nodes, srcs(i)))
        val rb = find(java.util.Arrays.binarySearch(nodes, dsts(i)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        i += 1
      }
      lastConvergenceRounds = 0
      return (0 until nNodes).map(j => (nodes(j), nodes(find(j))))
        .toDF("id", "lbl")
    }
    // symmetrize with one explode over the cached pairs (round-17:
    // a two-branch union embedded the caller's pair pipeline twice)
    val edges = ends
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // initial label = min(id, min neighbor) — the first propagation
    // round fused into initialization (one aggregate instead of a
    // distinct + a join round)
    var labels = edges
      .groupBy(col("src")).agg(min(least(col("src"), col("dst"))).as("lbl"))
      .select(col("src").as("id"), col("lbl"))
      // lazy checkpoint: the convergence-sum action right after is the
      // one job that materializes the round's blocks (eager would cost
      // a separate materialization job per round)
      .localCheckpoint(false)
    // labels only ever DECREASE under min-propagation, so the label sum
    // strictly decreases iff any label changed — one cheap aggregate
    // over the checkpointed frame detects convergence (no per-round
    // diff join). Sums stay exact: |ids| * max id <= 2^63 for any
    // realistic id space; a sum that cannot change undetected because
    // every change lowers it.
    def lblSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
    var prevSum = lblSum(labels)
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      // SUPERSTEP: several propagation sub-steps composed LAZILY into
      // one materialized job. Convergence needs (eccentricity of the
      // component's min-id node) propagation steps — ≤2 for LSH bucket
      // graphs (cliques/stars) but 14 measured for semantic dedup's
      // near-threshold cosine chain graph at sf0.1 — while the cost of
      // a round on these pair graphs (orders smaller than the corpus)
      // is dominated by fixed job/checkpoint overhead, not data. So
      // run `SubSteps` of them per job: same fixpoint, same result,
      // ~SubSteps× fewer barriers on long-diameter graphs; the plan
      // stays bounded (SubSteps joins+aggs, then the checkpoint
      // truncates). Each sub-step re-aliases its output columns so the
      // edges frame joined at every level keeps attribute resolution
      // unambiguous.
      var cur = labels
      for (_ <- 1 to SubSteps) {
        val incoming = edges.join(cur, edges("src") === cur("id"))
          .select(col("dst").as("id"), col("lbl"))
        cur = cur.union(incoming)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
          .select(col("id").as("id"), col("lbl").as("lbl"))
      }
      // pointer jump through the previous CHECKPOINTED table
      // (lbl <- min(lbl, labels_prev(lbl))): a cheap extra join that
      // shortcuts stale label chains where ids correlate with graph
      // position; disjoint lineage, so no ambiguous self-join.
      val jump = labels.select(col("id").as("jid"), col("lbl").as("jlbl"))
      val next = cur.join(jump, cur("lbl") === jump("jid"), "left")
        .select(cur("id"),
          least(cur("lbl"), coalesce(col("jlbl"), cur("lbl"))).as("lbl"))
        .localCheckpoint(false)
      val nextSum = lblSum(next)
      changed = nextSum != prevSum
      prevSum = nextSum
      labels = next
      rounds += 1
    }
    require(!changed,
      s"connectedComponents did not converge in $maxRounds supersteps " +
        s"(${maxRounds * SubSteps} propagation steps) — no near-dup " +
        "pair graph has components that elongated")
    lastConvergenceRounds = rounds
    ends.unpersist()
    labels
  }

  /** Incrementally grow [[connectedComponents]] labels by a batch of
    * NEW edges — the level-up of the similarity-graph append
    * (round-15 verdict #1): where [[appendSimilarityGraph]] grows the
    * EDGE artifact per ingest batch, this grows the LABELS that every
    * dedup consumer actually resolves against, so an appended batch no
    * longer pays a full-graph component fixpoint.
    *
    * CONTRACT: `newEdges` were ADDED to the graph that produced
    * `labels` (additions only ever MERGE components — edge deletion
    * can split and is out of scope here; the artifact verb
    * [[refreshComponentLabels]] detects the one deletion source, the
    * cap-crossing retraction, and rebuilds instead). Under that
    * contract the result equals `connectedComponents(oldEdges ∪
    * newEdges)` exactly (ComponentsAppendSpec asserts, including the
    * randomized sweep): contract each stored component to its root
    * (labels are component MINIMA, so the contracted node id IS the
    * min), map each new edge to an edge between the two contracted
    * endpoints (an endpoint outside the stored labels is its own
    * root), solve components over that SUPER-GRAPH — batch-sized, so
    * the [[connectedComponents]] two-regime threshold transfers and
    * the solve is normally the driver union-find — and broadcast the
    * root remap back over the stored labels. The min over a merged
    * super-component equals the min over the merged components'
    * members because each root already is its component's min.
    *
    * Shape at 100 TB: the big label frame is NEVER shuffled — the
    * affected-id restriction is a broadcast left-semi (map-side
    * filter) and the remap application is a broadcast left join
    * (map-side projection); everything batch-sized (affected ids,
    * super-edges, remap) rides broadcasts, bounded by the micro-batch
    * ingest contract like the merge-table broadcasts. Per-batch cost
    * tracks the BATCH, not the stored graph (BASELINE.md's
    * component-labels refresh row).
    *
    * Output: (id, lbl) for every node in some old OR new pair. */
  def appendComponents(labels: DataFrame, newEdges: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      localSolveEdges: Long = LocalSolveEdges): DataFrame =
    appendComponentsImpl(labels, newEdges, aCol, bCol, localSolveEdges)._1

  /** [[appendComponents]] plus the batch-sized frames it persisted, so
    * an artifact verb with a terminal action of its own
    * ([[refreshComponentLabels]]) can release them without waiting for
    * the caller's clearCache. */
  private def appendComponentsImpl(labels: DataFrame, newEdges: DataFrame,
      aCol: String, bCol: String,
      localSolveEdges: Long): (DataFrame, Seq[DataFrame]) = {
    val lab = labels.select(col("id"), col("lbl"))
    val ne = newEdges.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val aff = ne.select(col("a").as("id")).union(ne.select(col("b").as("id")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // labels of affected nodes only: map-side semi against the batch
    val labAff = lab.join(broadcast(aff), Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // super-graph: each new edge between the endpoints' roots
    val sup = ne
      .join(broadcast(labAff.select(col("id").as("a"), col("lbl").as("la"))),
        Seq("a"), "left")
      .join(broadcast(labAff.select(col("id").as("b"), col("lbl").as("lb"))),
        Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("doc_a"),
        coalesce(col("lb"), col("b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // batch-sized solve; covers every new node (its own id is a super
    // node) and every old root a new edge touches
    val remap = connectedComponents(sup, localSolveEdges = localSolveEdges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val moved = remap.filter(col("id") =!= col("lbl"))
      .select(col("id").as("lbl"), col("lbl").as("nl"))
    val updated = lab.join(broadcast(moved), Seq("lbl"), "left")
      .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
    // nodes new to the graph: affected ids with no stored label; their
    // super-component root is their label (self if the solve dropped
    // them — impossible under the contract, coalesce for safety)
    val fresh = aff.join(lab, Seq("id"), "left_anti")
      .join(broadcast(remap.withColumnRenamed("lbl", "rl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("rl"), col("id")).as("lbl"))
    (updated.unionByName(fresh), Seq(ne, aff, labAff, remap))
  }

  /** Build the COMPONENT-LABELS sidecar of a [[writeSimilarityGraph]]
    * artifact: `labels/assign` = [[connectedComponents]] over
    * `edges/`, plus `labels/meta` — the watermark (max doc id in any
    * stored edge) and the edge count, which is what lets
    * [[refreshComponentLabels]] split "edges my labels already
    * incorporate" from "edges appended since" and detect retraction,
    * all from the artifact alone. Written via the DirSwap convention
    * (assign + meta land in ONE swapped directory, so a crash leaves
    * either the old labels or the new — never a torn pair). */
  def writeComponentLabels(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val edges = spark.read.parquet(s"$path/edges")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (wm, n) = edgeStatsOf(edges)
      writeLabelsDir(spark, path, connectedComponents(edges), wm, n)
    } finally edges.unpersist()
  }

  /** The serve half: (id, lbl) for every node in some stored pair. */
  def readComponentLabels(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/labels/assign")

  /** Bring the labels sidecar up to date with the edge artifact after
    * any number of [[appendSimilarityGraph]] calls. Two paths, chosen
    * by what actually happened to the edges:
    *
    *  - COMMON (no retraction): every edge appended since the labels
    *    build has doc_b > the stored watermark (appended edges carry a
    *    batch doc in doc_b; batch ids exceed all stored ids), and the
    *    sub-watermark edge set the labels were built from is intact
    *    iff its COUNT is unchanged (appends never add below the
    *    watermark, retraction only removes). So: one pushed-filter
    *    count to verify, one pushed filter for the delta, then
    *    [[appendComponents]] — per-refresh cost tracks the appended
    *    batches, not the stored graph.
    *  - RETRACTION since the build (sub-watermark count shrank — only
    *    a cap-crossing append does that): deletions can SPLIT
    *    components, so the labels are rebuilt from the current edges
    *    ([[writeComponentLabels]]). The crossing append already paid
    *    an O(graph) edge rewrite; the label rebuild is the same cost
    *    class, and production sizes the cap so crossings are rare.
    *    Retractions among POST-watermark edges need nothing: those
    *    edges were never baked into the stored labels, and the delta
    *    reads the current (post-retraction) edge list.
    *
    * Refresh-after-refresh composes: each refresh advances the
    * watermark to the current max edge id, and any later append's ids
    * exceed every current id. A refresh with nothing to do is a
    * no-op (no rewrite). */
  def refreshComponentLabels(spark: org.apache.spark.sql.SparkSession,
      path: String, localSolveEdges: Long = LocalSolveEdges): Unit = {
    val meta = spark.read.parquet(s"$path/labels/meta").collect()(0)
    val (wm, nBaked) = (meta.getLong(0), meta.getLong(1))
    // deliberately NOT persisted (round-16 review): the common path's
    // three consumers — the sub-watermark count, the delta filter and
    // writeLabelsDir's max/count aggregate — are each one narrow
    // pushed-filter scan of the 2-long-column edge list; caching the
    // whole stored graph per refresh (per MICRO-BATCH under
    // ingestSimilarityGraph(maintainLabels)) is exactly the O(graph)
    // footprint the function's contract promises to avoid. Only the
    // rare rebuild path re-reads edges beyond that, and
    // connectedComponents persists its own symmetrized frame anyway.
    val edges = spark.read.parquet(s"$path/edges")
    val (curWm, curN) = edgeStatsOf(edges)
    val nBelow = edges.filter(col("doc_b") <= wm).count()
    if (nBelow < nBaked) {
      // a retraction reached into the labeled region: rebuild
      writeLabelsDir(spark, path, connectedComponents(edges), curWm, curN)
    } else {
      val delta = edges.filter(col("doc_b") > wm)
      if (!delta.isEmpty) {
        val (labels, cached) = appendComponentsImpl(
          readComponentLabels(spark, path), delta,
          "doc_a", "doc_b", localSolveEdges)
        try writeLabelsDir(spark, path, labels, curWm, curN)
        finally cached.foreach(_.unpersist())
      }
    }
  }

  private def writeLabelsDir(spark: org.apache.spark.sql.SparkSession,
      path: String, labels: DataFrame, wm: Long, nEdges: Long): Unit =
    writeSidecarDir(spark, path, "labels", labels, wm, nEdges, -1L,
      converged = true)

  /** (watermark = max doc id in any stored edge, edge count) of an
    * edge frame — the snapshot identity every sidecar's meta records.
    * Callers take it ONCE, at the moment they decide what to solve,
    * and pass the captured pair through to [[writeSidecarDir]]
    * (round-16 verdict: recomputing it at WRITE time could bake a
    * watermark covering edges the solve never saw if an append landed
    * in between; capturing at decision time keeps the meta ≤ what the
    * solve read, so a racing append at worst leaves the meta stale-LOW
    * and the next refresh redoes the delta — the safe direction). */
  private def edgeStatsOf(edges: DataFrame): (Long, Long) = {
    val b = edges.agg(
      coalesce(max(greatest(col("doc_a"), col("doc_b"))), lit(-1L)),
      count(lit(1))).collect()(0)
    (b.getLong(0), b.getLong(1))
  }

  /** Shared writer for edge-artifact SIDECARS (component labels,
    * triangle stats, rank scores, LP communities):
    * `$path/$name/assign` = the maintained frame, `$path/$name/meta`
    * = one row (watermark = max doc id in any stored edge, n_edges,
    * rounds_ran, converged):
    *
    *  - (watermark, n_edges) — what lets a refresh split "edges my
    *    sidecar already incorporates" from "edges appended since" and
    *    detect retraction, all from the artifact alone. The values are
    *    the caller's [[edgeStatsOf]] snapshot taken when it DECIDED
    *    what to solve, not a re-read at write time (see there). Under
    *    the artifact's single-writer ingest contract (one
    *    append-or-refresh at a time per path — the
    *    [[appendSimilarityGraph]] monotone-batch regime) the two are
    *    identical anyway; the capture ordering makes the failure mode
    *    of a violated contract benign instead of silent.
    *  - (rounds_ran, converged) — the iterative sidecars' (rank, LP)
    *    convergence PROVENANCE: a refresh that exhausted its round cap
    *    without meeting tol/fixpoint writes converged = false, and the
    *    next refresh RE-ENTERS the iteration from the stored state
    *    even though the edges are unchanged (warm start makes the
    *    resume cheap), instead of serving an out-of-band vector as
    *    final (round-16 verdict #1). The exact sidecars (labels, tri)
    *    write (-1, true): their solves are exact or fail-fast, so
    *    there is nothing to resume.
    *
    * DirSwap convention: assign + meta land in ONE swapped directory,
    * so a crash leaves either the old sidecar or the new — never a
    * torn pair. */
  private def writeSidecarDir(spark: org.apache.spark.sql.SparkSession,
      path: String, name: String, assign: DataFrame,
      wm: Long, nEdges: Long, roundsRan: Long, converged: Boolean): Unit = {
    import spark.implicits._
    graft.core.DirSwap.replace(spark, s"$path/$name") { tmp =>
      assign.write.mode("overwrite").parquet(s"$tmp/assign")
      Seq((wm, nEdges, roundsRan, converged))
        .toDF("watermark", "n_edges", "rounds_ran", "converged")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    }
  }

  /** Build the TRIANGLE-STATS sidecar of a [[writeSimilarityGraph]]
    * artifact: `tri/assign` = [[graft.graph.Triangles.stats]] (doc_id,
    * degree, n_tri) over `edges/`, plus the `tri/meta` watermark —
    * the density twin of the component-labels sidecar, maintained by
    * [[refreshTriangleStats]] so the clustering-coefficient consumer
    * no longer pays a full-graph wedge enumeration per ingest batch. */
  def writeTriangleStats(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val edges = spark.read.parquet(s"$path/edges")
    // statsImpl + unpersist-after-write, NOT the caller-clearCache
    // convention: an artifact verb runs repeatedly against the same
    // path (per micro-batch under ingestSimilarityGraph), and a
    // lingering cached frame whose plan scans that path would be
    // silently substituted for the REWRITTEN edge dir on the next
    // call (Triangles.statsImpl's scaladoc; the crossing spec).
    val (wm, n) = edgeStatsOf(edges)
    // canonical = true: the stored edge artifact is (doc_a < doc_b,
    // distinct) by construction, so the defensive normalize+distinct
    // shuffle is skipped (round-17 optimization)
    val (stats, cached) = graft.graph.Triangles.statsImpl(edges,
      canonical = true)
    try writeSidecarDir(spark, path, "tri", stats, wm, n, -1L, converged = true)
    finally cached.foreach(_.unpersist())
  }

  /** The serve half: (doc_id, degree, n_tri) for every node in some
    * stored pair; compose with [[graft.graph.Triangles.withCc]] for
    * the clustering-coefficient view. */
  def readTriangleStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/tri/assign")

  /** Bring the triangle-stats sidecar up to date with the edge
    * artifact after any number of [[appendSimilarityGraph]] calls —
    * the [[refreshComponentLabels]] decision structure verbatim:
    *
    *  - COMMON (no retraction): the sub-watermark edge set the stats
    *    were built from is intact iff its pushed-filter COUNT is
    *    unchanged; the delta is every edge with doc_b above the
    *    watermark, and [[graft.graph.Triangles.appendStats]] folds it
    *    in — per-refresh cost tracks the appended batches × the
    *    bucket-capped degree, not the stored graph.
    *  - RETRACTION since the build (sub-watermark count shrank — only
    *    a cap-crossing append does that): a deleted edge can REMOVE
    *    triangles the stored counts already include, so the sidecar is
    *    rebuilt from the current edges. The crossing append already
    *    paid an O(graph) edge rewrite; same cost class, and production
    *    sizes the cap so crossings are rare. Retractions among
    *    POST-watermark edges need nothing: those edges were never
    *    baked into the stored stats, and the delta reads the current
    *    (post-retraction) edge list.
    *
    * Refresh-after-refresh composes (each advances the watermark); a
    * refresh with nothing to do is a no-op. */
  def refreshTriangleStats(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val meta = spark.read.parquet(s"$path/tri/meta").collect()(0)
    val (wm, nBaked) = (meta.getLong(0), meta.getLong(1))
    // not persisted — the common path's consumers are each one narrow
    // pushed-filter scan (the refreshComponentLabels reasoning)
    val edges = spark.read.parquet(s"$path/edges")
    val (curWm, curN) = edgeStatsOf(edges)
    val nBelow = edges.filter(col("doc_b") <= wm).count()
    if (nBelow < nBaked) {
      // a retraction reached into the baked region: rebuild (with the
      // same release-after-write discipline as writeTriangleStats)
      val (stats, cached) = graft.graph.Triangles.statsImpl(edges,
        canonical = true)
      try writeSidecarDir(spark, path, "tri", stats, curWm, curN, -1L,
        converged = true)
      finally cached.foreach(_.unpersist())
    } else if (!edges.filter(col("doc_b") > wm).isEmpty) {
      val (stats, cached) = graft.graph.Triangles.appendStatsImpl(
        readTriangleStats(spark, path),
        edges.select(col("doc_a"), col("doc_b")), col("doc_b") > wm)
      try writeSidecarDir(spark, path, "tri", stats, curWm, curN, -1L,
        converged = true)
      finally cached.foreach(_.unpersist())
    }
  }

  /** Build the RANK-SCORES sidecar of a [[writeSimilarityGraph]]
    * artifact: `rank/assign` = tolerance-stopped PageRank
    * ([[graft.graph.GraphRank.pageRankConverged]]) over the edge
    * endpoints, plus the `rank/meta` watermark. Third consumer of the
    * growing edge artifact with a maintained serve path — but unlike
    * labels and tri, rank is a GLOBAL fixpoint (one appended edge
    * perturbs every score a little), so no batch-local exact merge
    * exists; what IS incremental is the ITERATION SCHEDULE:
    * [[refreshRankScores]] warm-starts the power iteration from the
    * stored vector. After an append the stored vector starts only the
    * PERTURBATION away from the new fixpoint where a cold start
    * begins the full fixpoint distance away, and each round contracts
    * by d, so warm saves ln(coldDist/perturbation)/ln(1/d) ≈
    * 6.2·ln(graph/batch ratio) rounds — the smaller the batch
    * relative to the graph, the bigger the saving (BASELINE.md's
    * rank-sidecar row, measured at a 1%-batch append, the production
    * per-micro-batch shape). The tolerance-band contract is
    * therefore the [[graft.graph.GraphRank.pageRankConverged]] serve
    * convention, NOT the exact labels/tri gate: consumers read scores
    * within `tol` of the converged ranking (RankSidecarSpec pins the
    * band); the hash-gated rank queries stay the from-scratch
    * fixed-iters [[graft.graph.GraphRank.pageRank]].
    *
    * Isolated documents (no stored pair) are not in the sidecar —
    * every such node's rank is exactly the constant teleport base, so
    * serving them is a coalesce at read, not O(corpus) stored rows. */
  def writeRankScores(spark: org.apache.spark.sql.SparkSession,
      path: String, tol: Long = RankSidecarTol,
      maxIters: Int = RankSidecarMaxIters): Unit = {
    val edges = spark.read.parquet(s"$path/edges")
    val (wm, n) = edgeStatsOf(edges)
    val (scores, rounds, conv) = graft.graph.GraphRank
      .pageRankConvergedStats(edgeEndpoints(edges), edges, tol, maxIters)
    writeSidecarDir(spark, path, "rank", scores, wm, n, rounds.toLong, conv)
  }

  /** Default tolerance for the rank sidecar: 10⁹ at scale 10¹² — a
    * thousandth of a node's initial teleport mass, well below any
    * sampling-weight granularity a curation pipeline acts on, and
    * REACHABLE inside the default round cap on hub-heavy graphs: a
    * star hub of in-degree k converges to ≈ d·k·scale, so the cold
    * schedule is ln(d·k·scale/tol)/ln(1/d) ≈ 6.2·ln(850·k) rounds —
    * inside [[RankSidecarMaxIters]] for hubs to k ≈ 10⁴ (a tighter
    * tol mostly buys capped-out rounds instead of precision;
    * BASELINE.md's rank-sidecar row records exactly that for its
    * first cut at tol = 10⁶). */
  val RankSidecarTol: Long = 1000000000L

  /** Default round cap for the rank sidecar (see [[RankSidecarTol]]
    * for the schedule arithmetic the two defaults are sized by). */
  val RankSidecarMaxIters: Int = 96

  /** The serve half: (doc_id, rank_e12) for every node in some stored
    * pair; a document absent here is isolated and scores exactly the
    * teleport base (1-d)·scale. */
  def readRankScores(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/rank/assign")

  /** Bring the rank sidecar up to date with the edge artifact after
    * any number of [[appendSimilarityGraph]] calls, by WARM-STARTING
    * the power iteration from the stored vector
    * ([[graft.graph.GraphRank.pageRankConvergedFrom]]; new nodes
    * start cold at `scale`). No retraction case: the stored vector is
    * only an initial GUESS — power iteration converges to the current
    * edge set's fixpoint from any start — so a cap-crossing
    * retraction costs extra ROUNDS at worst, never correctness (the
    * labels/tri rebuild fallback has no analogue here). A refresh
    * with the edge set unchanged (same watermark and edge count) is a
    * no-op ONLY if the stored meta says the last solve actually
    * converged: a capped-out write (converged = false in the meta)
    * RE-ENTERS the iteration from the stored vector even with the
    * edges unchanged, so a cap sized too tight degrades into more
    * refresh calls — never into serving an out-of-band vector as
    * final (round-16 verdict #1; the resume is cheap by the warm-start
    * argument). Refresh-after-refresh composes. `force` bypasses the
    * no-op guard entirely — the DELETE verb passes it because the
    * (watermark, n_edges) heuristic is an append protocol a deletion
    * can fool without changing either number. A legacy 2-column meta
    * (written before convergence provenance existed) is treated as
    * NOT converged, so the first refresh self-heals it into the
    * 4-column format at one warm re-converge's cost. */
  def refreshRankScores(spark: org.apache.spark.sql.SparkSession,
      path: String, tol: Long = RankSidecarTol,
      maxIters: Int = RankSidecarMaxIters, force: Boolean = false): Unit = {
    val meta = spark.read.parquet(s"$path/rank/meta").collect()(0)
    val edges = spark.read.parquet(s"$path/edges")
    val (curWm, curN) = edgeStatsOf(edges)
    val storedConverged = meta.length > 3 && meta.getBoolean(3)
    if (force || curWm != meta.getLong(0) || curN != meta.getLong(1) ||
        !storedConverged) {
      val (scores, rounds, conv) = graft.graph.GraphRank
        .pageRankConvergedFromStats(
          edgeEndpoints(edges), edges, readRankScores(spark, path),
          tol, maxIters)
      writeSidecarDir(spark, path, "rank", scores, curWm, curN,
        rounds.toLong, conv)
    }
  }

  private def edgeEndpoints(edges: DataFrame): DataFrame =
    edges.select(col("doc_a").as("doc_id"))
      .union(edges.select(col("doc_b").as("doc_id"))).distinct()

  /** DRIVER-GATEABLE audit of the rank sidecar's SERVE CONTRACT — the
    * [[graft.similarity.Similarity.ivfAudit]] playbook applied to the
    * one sidecar whose contract (a tolerance band around a converged
    * fixpoint) cannot be hash-gated directly (round-16 verdict: the
    * band was spec-pinned but had no CORRECTNESS row). Spark
    * re-verifies the contract against the artifact and emits ONE row
    * of boolean columns; the DuckDB oracle is the constant contract
    * row, so any violation — a node missing from or extra in the
    * sidecar, a served vector outside the band, a capped-out write
    * masquerading as converged, or an empty artifact — flips a flag
    * and breaks the hash.
    *
    * The band check re-enters the power iteration FROM THE SERVED
    * VECTOR ([[graft.graph.GraphRank.pageRankConvergedFromStats]]):
    * power iteration converges to the current edge set's fixpoint from
    * any start, so the re-converged vector is in-contract by
    * construction, and a served vector that already honored the
    * contract re-stops in ~1 round — the audit costs rounds
    * proportional to how WRONG the sidecar is, never the cold
    * log(scale/tol) schedule (the minute-class converged oracle the
    * round-15 decision rightly declined). The asserted band is the
    * empirically pinned 14·tol of RankSidecarSpec.
    *
    * Output row: (nodes_ok, band_ok, converged_ok, nonempty) — all 1
    * on a healthy artifact. Shape at 100 TB: two anti-join counts on
    * doc_id (coverage), the warm re-converge (~1 round on a healthy
    * sidecar), one narrow join + 1-row max (the deviation). */
  def rankSidecarAudit(spark: org.apache.spark.sql.SparkSession,
      path: String, tol: Long = RankSidecarTol,
      maxIters: Int = RankSidecarMaxIters): DataFrame = {
    import spark.implicits._
    val served = readRankScores(spark, path)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val edges = spark.read.parquet(s"$path/edges")
      val meta = spark.read.parquet(s"$path/rank/meta").collect()(0)
      val endpoints = edgeEndpoints(edges)
      // both coverage directions + the served row count in ONE
      // full-outer pass (was three separate jobs — round-17
      // optimization; both sides are unique on doc_id by construction)
      val cov = endpoints.select(col("doc_id"), lit(1).as("ep"))
        .join(served.select(col("doc_id"), lit(1).as("sv")),
          Seq("doc_id"), "full")
        .agg(coalesce(sum(when(col("sv").isNull, 1L).otherwise(0L)),
            lit(0L)).as("missing"),
          coalesce(sum(when(col("ep").isNull, 1L).otherwise(0L)),
            lit(0L)).as("extra"),
          coalesce(sum(when(col("sv").isNotNull, 1L).otherwise(0L)),
            lit(0L)).as("n_served"))
        .head()
      val (missing, extra, nServed) =
        (cov.getLong(0), cov.getLong(1), cov.getLong(2))
      val (rec, _, reConv) = graft.graph.GraphRank
        .pageRankConvergedFromStats(endpoints, edges, served, tol, maxIters)
      val worst = served
        .join(rec.withColumnRenamed("rank_e12", "rr"), "doc_id")
        .agg(coalesce(max(abs(col("rank_e12") - col("rr"))), lit(0L)))
        .head().getLong(0)
      Seq((
        if (missing == 0L && extra == 0L) 1L else 0L,
        if (worst <= 14L * tol) 1L else 0L,
        if (meta.length > 3 && meta.getBoolean(3) && reConv) 1L else 0L,
        if (nServed > 0L) 1L else 0L))
        .toDF("nodes_ok", "band_ok", "converged_ok", "nonempty")
    } finally served.unpersist()
  }

  /** Build the LP-COMMUNITY sidecar of a [[writeSimilarityGraph]]
    * artifact: `lp/assign` = converged synchronous label propagation
    * ([[graft.graph.LabelProp.communitiesConverged]]) over the edge
    * endpoints, plus the `lp/meta` watermark — the FOURTH consumer of
    * the growing edge artifact, closing the round-15 verdict's
    * "every consumer" list (union-find → labels sidecar, triangles →
    * tri sidecar, rank → rank sidecar, LP → here). Like rank, LP is a
    * global iterative fixpoint with no batch-local exact merge, so
    * the incremental lever is again the schedule:
    * [[refreshLpCommunities]] warm-starts the sweep from the stored
    * assignment (delta-LPA), and a near-converged labeling perturbed
    * by one batch re-settles in a round or two where a cold start
    * replays the full coarsening cascade. Contract (weaker than
    * rank's band, stated honestly): LP fixpoints are not unique, so
    * the served assignment is a genuine FIXPOINT of the deterministic
    * sweep over the CURRENT edges (spec-verified by re-applying one
    * round), seeded from the previous assignment — not necessarily
    * the cold fixpoint. The hash-gated LP queries stay from-scratch
    * fixed-iters. Isolated documents are their own community
    * (self-label) and are not stored — a coalesce at read, the rank
    * sidecar convention. */
  def writeLpCommunities(spark: org.apache.spark.sql.SparkSession,
      path: String, maxIters: Int = 32): Unit = {
    val edges = spark.read.parquet(s"$path/edges")
    val (wm, n) = edgeStatsOf(edges)
    // canonical = true: stored artifact edges are (doc_a < doc_b,
    // distinct) by construction — skip the defensive distinct shuffle
    val (labels, rounds, conv) = graft.graph.LabelProp
      .communitiesConvergedStats(edgeEndpoints(edges), edges, maxIters,
        canonical = true)
    writeSidecarDir(spark, path, "lp", labels, wm, n, rounds.toLong, conv)
  }

  /** The serve half: (doc_id, community) for every node in some
    * stored pair; a document absent here is isolated and is its own
    * community. */
  def readLpCommunities(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/lp/assign")

  /** Bring the LP sidecar up to date after any number of
    * [[appendSimilarityGraph]] calls by warm-starting the sweep from
    * the stored assignment ([[graft.graph.LabelProp
    * .communitiesConvergedFrom]]; new nodes start self-labeled). No
    * retraction fallback, same reason as the rank sidecar: any
    * labeling is a valid starting state and the stop test checks
    * fixpointness against the CURRENT edge set, so a cap-crossing
    * retraction costs rounds, never the contract. A refresh with the
    * edge set unchanged is a no-op ONLY if the stored meta says the
    * last sweep actually reached a fixpoint: a capped-out write
    * (converged = false) re-enters the sweep from the stored
    * assignment even with the edges unchanged (the rank sidecar's
    * resume convention — round-16 verdict #1), so the fixpoint
    * contract no longer depends on the cap being sized generously. */
  def refreshLpCommunities(spark: org.apache.spark.sql.SparkSession,
      path: String, maxIters: Int = 32, force: Boolean = false): Unit = {
    val meta = spark.read.parquet(s"$path/lp/meta").collect()(0)
    val edges = spark.read.parquet(s"$path/edges")
    val (curWm, curN) = edgeStatsOf(edges)
    val storedConverged = meta.length > 3 && meta.getBoolean(3)
    if (force || curWm != meta.getLong(0) || curN != meta.getLong(1) ||
        !storedConverged) {
      val (labels, rounds, conv) = graft.graph.LabelProp
        .communitiesConvergedFromStats(
          edgeEndpoints(edges), edges, readLpCommunities(spark, path),
          maxIters, canonical = true)
      writeSidecarDir(spark, path, "lp", labels, curWm, curN,
        rounds.toLong, conv)
    }
  }

  /** Duplicate-cluster resolution — the last step of the dedup
    * pipeline: collapse the near-dup PAIR list into doc_id ->
    * canonical_id (the component's minimum id) for EVERY document, so
    * duplicates can actually be dropped (`keep rows WHERE doc_id =
    * canonical_id`). Pairs come from [[minhashPairs]]; docs in no pair
    * are their own canonical (cluster_size 1).
    *
    * Output: (doc_id, canonical_id, cluster_size). Transitivity is the
    * point: a chain A~B, B~C with A!~C still lands in ONE cluster
    * (DedupSpec pins exactly that shape). The DuckDB oracle recomputes
    * the closure independently with a recursive min-label CTE. */
  def clusters(docs: DataFrame, p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    clustersOf(docs,
      connectedComponents(minhashPairs(docs, p, idCol, textCol)), idCol)

  /** [[clusters]]' resolution step against ALREADY-COMPUTED component
    * labels (the (id, lbl) shape of [[connectedComponents]] /
    * [[readComponentLabels]]) — the serve half of the incremental
    * lifecycle: labels are a pure function of the edge artifact, so
    * per corpus snapshot they are maintained once
    * ([[refreshComponentLabels]]) and resolved against by any number
    * of dedup jobs. Docs in no pair are their own canonical. */
  def clustersOf(docs: DataFrame, labels: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val comp = labels.select(col("id").as("doc_id"), col("lbl").as("cid"))
    val assigned = docs.select(col(idCol).as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cid"), col("doc_id")).as("canonical_id"))
    assigned.withColumn("cluster_size",
      count(lit(1)).over(Window.partitionBy(col("canonical_id"))))
  }

  /** Quality-aware duplicate-cluster resolution: keep the
    * HIGHEST-QUALITY member of each near-dup cluster instead of the
    * minimum id — what a production training-data pipeline actually
    * does (the min-id keeper of [[clusters]] can be the worst copy).
    * Quality = [[TextFunctions.qualityPpm]] (type-token ratio, exact
    * integer ppm so both engines agree); ties broken by MIN doc_id so
    * the keeper is deterministic.
    *
    * Output: one row per cluster (canonical_id, keep_id,
    * keep_quality_ppm, cluster_size).
    *
    * Scale shape: the argmax is `max(struct(quality, -doc_id))` inside
    * a hash aggregation on canonical_id — partial-aggregates map-side,
    * no per-cluster window, one shuffle beyond [[clusters]]. */
  def clustersBest(docs: DataFrame, p: MinHashParams = MinHashParams(),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cl = clusters(docs, p, idCol, textCol)
    val q = docs.select(col(idCol).as("doc_id"),
      TextFunctions.qualityPpm(col(textCol)).as("q"))
    cl.join(q, Seq("doc_id"))
      .groupBy(col("canonical_id"))
      .agg(
        max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("best"),
        max(col("cluster_size")).as("cluster_size"))
      .select(col("canonical_id"),
        (-col("best.neg_id")).as("keep_id"),
        col("best.q").as("keep_quality_ppm"),
        col("cluster_size"))
  }
}
