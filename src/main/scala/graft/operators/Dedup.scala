package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{SharedViews, Tables}

/** Document deduplication for large-scale training-data pipelines: exact
  * (content-hash groupBy; streaming twin in `streaming.DedupStream`),
  * MinHash+LSH near-dup (dense 128-hash and one-permutation signatures),
  * SimHash, exact n-gram Jaccard, incremental delta-vs-corpus detection,
  * and end-to-end near-dup GROUPING (pairs → connected components →
  * canonical keeper). No reference analog (the reference has no text ops)
  * — these are the north-star extensions from SURVEY.md §7 M5.
  *
  * Scale design: everything is native Catalyst higher-order functions
  * (transform/aggregate/zip_with over arrays) — no UDFs, fully codegen'd,
  * shuffles only on the LSH band keys and the final candidate join. MinHash
  * banding is the classic S-curve trade: b=32 bands × r=4 rows ⇒ candidate
  * threshold ≈ (1/b)^(1/r) ≈ 0.42 Jaccard. At 100 TB the band join is the
  * only super-linear step and it is bounded by bucket sizes — salt or
  * increase r if a bucket hot-spots (AQE skew join handles moderate skew).
  */
object Dedup {

  private val NumHashes = 128
  private val Bands = 32
  private val RowsPerBand = NumHashes / Bands

  /** Whitespace tokens, lowercased, empties dropped. */
  private[operators] def tokensCol(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Word k-shingles as a SORTED distinct array of 64-bit hashes — sorted
    * so pairwise intersection runs through the codegen'd two-pointer
    * `sorted_intersect_count` instead of hash-based array_intersect. One
    * codegen pass ([[graft.functions.ShingleHashes]]: hash each token
    * once, xxhash64-chain per window, sort+dedupe in place) — the HOF
    * sort_array∘array_distinct∘transform∘concat_ws∘slice tree it replaces
    * built a string per window through interpreted lambdas and dominated
    * the dedup family's base-relation build. Downstream depends only on
    * injectivity + sortedness (Jaccard over distinct sets); the q45 oracle
    * recomputes Jaccard from RAW string 3-grams in DuckDB, pinning the
    * semantics across the hash swap. */
  private[operators] def shingleHashes(tokens: Column, k: Int): Column =
    call_function("shingle_hashes", tokens, lit(k))

  /** MinHash signature: sig[i] = min over shingles of xxhash64(h, i), as
    * one codegen'd loop ([[graft.functions.MinHashSignature]]). The
    * aggregate+least HOF fold it replaces computed the identical values
    * (DedupSpec asserts bit-parity) through NumHashes × |sh| interpreted
    * lambda dispatches per document — the dominant cost of the LSH pair
    * path at sf0.1. */
  private def minhashSigCol(sh: Column): Column =
    call_function("minhash_sigs", sh, lit(NumHashes))

  /** The pre-codegen HOF formulation of [[minhashSigCol]] — kept as the
    * bit-parity witness for the spec, never on the query path. */
  private[operators] def minhashSigColLambda(sh: Column): Column =
    transform(sequence(lit(0), lit(NumHashes - 1)),
      i => aggregate(sh, lit(Long.MaxValue),
        (acc, h) => least(acc, xxhash64(h, i))))

  /** Cache level for the array-carrying keyed views. The whole dedup
    * family (signatures, LSH pairs, OPH, incremental, n-gram Jaccard,
    * grouping) consumes the same shingle-hash relation, and three of those
    * also share the dense MinHash signature — the same materialized-view
    * shape as [[GraphOps.coPurchaseEdges]]: each is a keyed
    * [[graft.SharedViews]] view, built once per (session, dir) and read in
    * memory by every consumer after the first. The relations are small
    * relative to their input (hashes, not text), so pinning them is safe
    * at scale.
    *
    * The level is MEMORY_ONLY, never disk. These relations carry 1–2 KB
    * rows (shingle sets, 128-long
    * signatures, band explosions), and every one of them derives from a
    * staged columnar parquet or a retained shuffle — so an evicted
    * partition re-reads a COMPRESSED scan. The default MEMORY_AND_DISK
    * instead writes evicted partitions back out in row format at several
    * times the parquet bytes: at the 50M-doc fixture that is >90 GB of
    * block spill on a ~93 GB host — the exact ENOSPC that killed q4b at
    * sf1000p twice — to "save" a re-read of a 20 GB staged scan. When the
    * view fits in storage memory (every fixture below sf1000p) the levels
    * behave identically; where it doesn't, the engine degrades to
    * recompute-from-columnar instead of dying on disk. On a real cluster
    * the same policy holds per executor: spilling a resident index to
    * local disk at 2-4× its columnar size is never the right trade when
    * the columnar source is one storage round-trip away. */
  private def viewCache(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_ONLY)

  /** (doc_id, sh) shingle-hash relation, a keyed view per (session, dir). Only
    * the hash set is pinned — tokens are consumed by `shingle_hashes`
    * inside the build and never needed downstream, so caching them would
    * double the pinned bytes for nothing.
    *
    * The relation is also staged to PARQUET once per FIXTURE (cross-JVM,
    * fingerprint-keyed — [[graft.sources.Staging.persistent]]): the build
    * is a pure derivation of documents.parquet, and at 100× unique
    * contents it cost ~18 min re-paid by every fresh JVM (qad's sf10p
    * cold pass), while reading the staged copy back is a plain columnar
    * scan. First JVM builds + publishes; every later JVM's "cold" is a
    * read. A rewritten fixture re-stages via the size+mtime fingerprint. */
  private def shingled(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    SharedViews.view("dedup.shingles", spark, dir) {
      val src = s"$dir/documents.parquet"
      val staged = graft.sources.Staging.persistent(
        "shingles", src, graft.sources.Staging.fingerprintOf(src)) { out =>
        Tables(spark, dir, "documents")
          .select(col("doc_id"),
            shingleHashes(tokensCol(col("text")), 3).as("sh"))
          .write.mode("overwrite").parquet(s"$out/shingles")
      }
      viewCache(Tables.parquet(spark, s"$staged/shingles"))
    }
  }

  /** (doc_id, sh, band, bh) banding of an arbitrary documents relation —
    * the full signature pipeline (shingles → dense MinHash → LSH bands) as
    * one composable transform. Exposed for the STREAMING ingest face
    * ([[graft.streaming.DedupStream.minhashPairsFromStream]]): every stage
    * is a deterministic per-row expression (the registered codegen
    * functions), so the identical plan runs over a `readStream` source,
    * and a stream-static join against this same transform of the corpus
    * IS the q4b incremental shape with arrival semantics. */
  private[graft] def withBands(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), shingleHashes(tokensCol(col("text")), 3).as("sh"))
      .withColumn("sig", minhashSigCol(col("sh")))
      .select(col("doc_id"), col("sh"),
        posexplode(call_function("band_hashes", col("sig"), lit(Bands))))
      .select(col("doc_id"), col("sh"), col("pos").as("band"), col("col").as("bh"))
  }

  /** The exact-Jaccard column [[verifyPairs]] computes, for reuse where
    * the join already carries both sorted shingle sets. */
  private[graft] def jaccardOf(sa: Column, sb: Column): Column = {
    val inter = call_function("sorted_intersect_count", sa, sb)
    round(inter.cast("double") / (size(sa) + size(sb) - inter), 6)
  }

  /** Exact dedup: md5 of the raw text, one row per distinct content with the
    * keeper (min doc_id) and the duplicate count. Oracle-able. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  /** The MinHash signature MATRIX itself as a query face (q41), one row
    * per (doc, permutation) — on the PORTABLE hash stack: base hashes are
    * [[portableHash64]] of the raw word-3-gram strings (= DuckDB's
    * `md5_number_lower`), permutations are the exact-integer affine maps
    * of [[graft.functions.PortableMinHash]], and the min is unsigned.
    * Every value is therefore replayable bit-for-bit by another engine —
    * the DuckDB oracle recomputes the whole matrix from the raw text (the
    * q43/q53 portable-hash discipline applied to MinHash; before this the
    * signature was xxhash64-defined and only rows-count-checkable). The
    * LSH pair family keeps its xxhash64 signatures internally (banding
    * only needs SOME uniform hash, and those faces are oracled on their
    * exact-Jaccard OUTPUT, which is hash-free); this face pins the
    * signature SEMANTICS — min-over-hashed-shingles per permutation —
    * cross-engine. Window clamping matches the engine rule everywhere: a
    * doc with < 3 tokens still emits one truncated gram. */
  def minhashSignatures(spark: SparkSession, dir: String,
      numHashes: Int = NumHashes): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("tokens"))
      // one codegen pass over the token array ([[graft.functions
      // .PortableGramHashes]]) — same gram strings/clamps/hash values as
      // the transform∘concat_ws∘slice HOF tree it replaces (bit-parity
      // asserted in ExpressionsSpec), minus the per-gram interpreted
      // lambda dispatch that made the portable flip 16× the xxhash64 path
      .withColumn("gh", call_function("portable_gram_hashes", col("tokens"), lit(3)))
      .select(col("doc_id"),
        posexplode(call_function("minhash_sigs_portable", col("gh"), lit(numHashes))))
      .select(col("doc_id"), col("pos").cast("int").as("perm"),
        col("col").as("minhash"))
      .orderBy("doc_id", "perm")
  }

  /** MinHash+LSH near-duplicate pairs: band the signature, bucket-join on
    * (band, bandHash), then verify candidates with EXACT Jaccard on the
    * shingle sets. Output: pairs with jaccard ≥ minJaccard. */
  /** LSH band table of a signature frame: (doc_id, band, bh). Band keys
    * come from [[graft.functions.BandHashes]] — one codegen fold per band
    * over the signature rows, replacing the per-band comma-string
    * construction (Bands × RowsPerBand casts + a concat per row through
    * interpreted lambdas). Banding semantics are unchanged: keys collide
    * iff the band's signature rows match (64-bit hash collisions only add
    * candidates, which the exact-Jaccard verify removes). */
  private def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
        posexplode(call_function("band_hashes", col("sig"), lit(Bands))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))

  /** Exact-Jaccard verification of a candidate pair set against the
    * shingle sets, threshold + canonical ordering. */
  private def verifyPairs(cand: DataFrame, sig: DataFrame,
      minJaccard: Double): DataFrame = {
    val sh = sig.select(col("doc_id"), col("sh"))
    graft.functions.GraftFunctions.register(sig.sparkSession)
    val inter = call_function("sorted_intersect_count", col("sa.sh"), col("sb.sh"))
    cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard", round(inter.cast("double") /
          (size(col("sa.sh")) + size(col("sb.sh")) - inter), 6))
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Distinct-content groups with a signature column — the collapsed base
    * of the whole LSH pair family. Banding/verification run over one row
    * per distinct shingle SET; record-level pairs re-expand afterwards
    * ([[expandPairs]]). g exact copies of one text would otherwise put g
    * rows in every band bucket and square the candidate join — measured
    * 180-245 s for the uncollapsed embedding twin at a 100×-replicated
    * corpus, and dedup's whole raison d'être IS duplicate-heavy corpora.
    * [[contentGroups]]' adaptive probe applies: on near-unique corpora the
    * collapse groupBy is skipped and this is the plain per-doc relation. */
  private def groupedSigs(spark: SparkSession, dir: String,
      sigOf: Column => Column): DataFrame =
    contentGroups(spark, dir)
      .select(col("cid").as("doc_id"), col("sh"), col("members"),
        sigOf(col("sh")).as("sig"))

  /** [[groupedSigs]] with the DENSE MinHash signature, cached per
    * (session, dir) — five faces (q42, q4b, q56, q8n, qbc) consume this
    * exact relation, and before the cache each invocation re-ran the
    * occupancy probe AND the 128-fold signature build over the content
    * groups (the bulk of q8n's r8 0.7 → 1.9 s drift at sf0.1: q8n pays
    * the build once for its pair stage and ExplainAudit/verify pay it
    * again per face). Same keyed-materialized-view discipline as
    * [[shingled]]; dropped by [[graft.SharedViews.clearAll]]. The cache
    * is filled by one job at build: [[minhashPairs]] reads it on both
    * sides of its band join and in the verify, and a cache left for those
    * concurrent stages to fill has several compute the same partition. */
  private def groupedDense(spark: SparkSession, dir: String): DataFrame =
    SharedViews.view("dedup.groupedDense", spark, dir) {
      val view = viewCache(groupedSigs(spark, dir, minhashSigCol))
      view.rdd.count()
      view
    }

  /** The corpus's content-level LSH band index — (cid, kb), two longs
    * per band row (kb = xxhash64(band, bh), see the packing note in the
    * builder) — as a (session, dir)-keyed materialized view:
    * the "index side" a streaming ingest probes per micro-batch
    * ([[graft.streaming.DedupStream.minhashPairsFromStream]]). Built over
    * [[groupedDense]] (so the signature pipeline is shared with the batch
    * family and runs at the parent session's shuffle width, ONCE), one
    * band row per DISTINCT content — g exact copies of a text no longer
    * multiply every bucket the stream probes. The index is deliberately
    * NARROW: it used to carry each content's shingle set on every band
    * row, pinning Bands× the whole corpus's shingle bytes (the sf10p
    * memory-pressure suspect behind the round-9 87→352 s rep inversion)
    * and dragging two sh arrays through every band collision before the
    * verify — candidates now dedup on (probe, cid) FIRST and fetch
    * shingles once per candidate from [[corpusShingles]]. Cached
    * relations live in the context's SharedState, so a child streaming
    * session joining against this DataFrame reads the same in-memory
    * blocks. */
  private[graft] def corpusBandIndex(spark: SparkSession, dir: String): DataFrame =
    SharedViews.view("dedup.bandIndex", spark, dir) {
      // partition count sized by the corpus, not the session default: the
      // index is Bands × |contents| rows, and at 50M docs the session's 32
      // shuffle partitions put 1.6B/32 = 50M 24-byte rows into EACH
      // sortWithinPartitions task — a ~1.2 GB external sort per task whose
      // spill files (≈ the whole index, again) were the third ENOSPC at
      // sf1000p. ~8M rows (≈190 MB) per partition keeps every sort inside
      // task execution memory; a parquet footer count prices the sizing at
      // one metadata read. This is the knob the brief names ("size
      // shuffle.partitions so partitions fit in executor memory at the
      // target SF"), applied where the engine OWNS the relation.
      val nDocs = Tables(spark, dir, "documents").count()
      val parts = math.max(spark.sessionState.conf.numShufflePartitions,
        math.min(20000L, Bands.toLong * nDocs / 8000000L + 1).toInt)
      bandsOf(groupedDense(spark, dir))
        // ONE packed 8-byte probe key instead of the (band, bh) long
        // pair: kb = xxhash64(band, bh). Equal (band, bh) always gives
        // equal kb, so no true pair is lost; a cross-pair hash collision
        // only ADDS a candidate the exact-Jaccard verify rejects — the
        // same argument as FuzzyJoin's xxhash64(variant) join key. The
        // index row is (cid, kb) = 16 B: at Bands × |contents| rows the
        // narrower row is a third off every byte the index ever costs —
        // build shuffle, cached blocks, probe-side sort.
        .select(col("doc_id").as("cid"),
          xxhash64(col("band"), col("bh")).as("kb"))
        // partitioned + sorted on the probe key BEFORE caching: every
        // kb equi-probe (q4b's delta batch, qbb's micro-batches) then
        // reuses the cached partitioning AND ordering, so the index side
        // of the join is scan-only — only the O(delta) probe side ever
        // shuffles. The unpartitioned form shuffled the full index per
        // probe (the q4b sf1000p ENOSPC: a "probe the static index" face
        // was paying a bulk re-index per run). One exchange at build
        // time, paid once per fixture.
        .repartition(parts, col("kb"))
        .sortWithinPartitions("kb")
        .transform(viewCache)
    }

  /** (cid, sh) — one shingle set per distinct content, the verify-side
    * lookup paired with the narrow [[corpusBandIndex]]. A projection of
    * the already-cached [[groupedDense]] view, so no extra pinned copy. */
  private[graft] def corpusShingles(spark: SparkSession, dir: String): DataFrame =
    groupedDense(spark, dir).select(col("doc_id").as("cid"), col("sh"))

  /** (cid, members) of the corpus content groups — the drain-side
    * expansion relation paired with [[corpusBandIndex]]. */
  private[graft] def contentMembers(spark: SparkSession, dir: String): DataFrame =
    groupedDense(spark, dir).select(col("doc_id").as("cid"), col("members"))

  /** Record-level expansion of verified content-pair results: cross-group
    * pairs inherit the representatives' jaccard (identical sets ⇒ identical
    * similarity), within-group pairs are exactly 1.0 (set equality). Joins
    * are linear in OUTPUT size — the quadratic floor no pair-emitting
    * query can undercut. `withinFrom` narrows which groups emit their
    * internal pairs (the incremental face passes only delta-touching
    * groups, preserving its O(delta) shape). */
  private def expandPairs(repPairs: DataFrame, grp: DataFrame,
      withinFrom: DataFrame, minJaccard: Double): DataFrame = {
    val mem = grp.select(col("doc_id").as("cid"), col("members"))
    val cross = repPairs
      .join(mem.as("ma"), col("doc_a") === col("ma.cid"))
      .join(mem.as("mb"), col("doc_b") === col("mb.cid"))
      .select(explode(col("ma.members")).as("ia"),
        col("mb.members").as("mbm"), col("jaccard"))
      .select(col("ia"), explode(col("mbm")).as("ib"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("jaccard"))
    val within = withinFrom.where(size(col("members")) > 1)
      .select(explode(col("members")).as("ia"), col("members"))
      .select(col("ia"), explode(col("members")).as("ib"))
      .where(col("ia") < col("ib"))
      .select(col("ia").as("doc_a"), col("ib").as("doc_b"),
        lit(1.0).as("jaccard"))
      .where(lit(1.0) >= minJaccard)
    cross.unionAll(within)
  }

  /** Verified content-level pairs + the group relation they index — the
    * shared kernel of [[minhashPairs]] (expanded pair face) and
    * [[dedupGroups]] (which clusters WITHOUT expanding). */
  private def repPairsAndGroups(spark: SparkSession, dir: String,
      minJaccard: Double): (DataFrame, DataFrame) = {
    val grp = groupedDense(spark, dir)
    (pairsFromBands(bandsOf(grp), grp, minJaccard), grp)
  }

  def minhashPairs(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    val (repPairs, grp) = repPairsAndGroups(spark, dir, minJaccard)
    expandPairs(repPairs, grp, grp, minJaccard)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** [[minhashPairs]] on ONE-permutation signatures
    * ([[graft.functions.OphSignature]]): the signature costs one pass over
    * the shingles instead of NumHashes folds — the 100 TB signature path
    * (same banding, same exact-Jaccard verification; only banding RECALL
    * depends on the estimator, which DedupSpec measures against the dense
    * signature's pairs). */
  def minhashPairsOph(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // Projection of the SHARED dense view, not a second cached relation:
    // the OPH face used to pin its own copy of (sh, members, sig) next to
    // [[groupedDense]]'s — on unique-heavy corpora that doubles the pinned
    // shingle bytes (the contentGroups double-pin pathology in its
    // signature-level form; ~2 KB/doc × 5M docs at the sf100p fixture).
    // oph_sig is ONE codegen pass over the already-cached sh array — that
    // is the estimator's selling point — so recomputing it per invocation
    // costs less than the eviction/GC pressure a duplicate 10 GB pin buys.
    val grp = groupedDense(spark, dir)
      .select(col("doc_id"), col("sh"), col("members"),
        call_function("oph_sig", col("sh"), lit(NumHashes)).as("sig"))
    val repPairs = pairsFromBands(bandsOf(grp), grp, minJaccard)
    expandPairs(repPairs, grp, grp, minJaccard)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  private def pairsFromBands(bands: DataFrame, sig: DataFrame,
      minJaccard: Double): DataFrame = {
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, sig, minJaccard)
  }

  /** Incremental near-dup detection — the ingest shape: a DELTA of new
    * documents checked against the existing corpus (and within itself)
    * without re-pairing the corpus against itself. Candidates = bands of
    * delta-touching content groups ⋈ all bands, so the join cost is
    * |delta| × bucket occupancy, not |corpus|² — at 100 TB the corpus
    * band table is a materialized index and each ingest batch only probes
    * it. Emits exactly the [[minhashPairs]] rows that touch the delta
    * (spec-asserted); within-group pairs come only from delta-touching
    * groups, so expansion stays O(delta-output) too. */
  def minhashPairsIncremental(spark: SparkSession, dir: String,
      deltaFrom: Long = -1L, minJaccard: Double = 0.5): DataFrame = {
    val cut = if (deltaFrom >= 0) deltaFrom else autoDeltaFrom(spark, dir)
    minhashPairsIncrementalAt(spark, dir, cut, minJaccard)
  }

  /** Scale-invariant default delta cutoff: the top fifth of the id space,
    * `(max(doc_id)+1) * 4 / 5` in integer arithmetic — the SAME number at
    * every fixture scale RELATIVE to the corpus (a fixed absolute cutoff
    * made the "delta" 99% of the corpus at sf1+, so the scale runs were
    * benchmarking bulk re-ingest, not incremental probing). Integer-exact
    * and DuckDB-replayable (`(max(doc_id)+1) * 4 // 5`); an empty corpus
    * yields 0 (empty delta over an empty index — still empty output). */
  private[graft] def autoDeltaFrom(spark: SparkSession, dir: String): Long = {
    val row = Tables(spark, dir, "documents").agg(max("doc_id")).head()
    val mx = if (row.isNullAt(0)) -1L else row.getLong(0)
    ((mx + 1L) * 4L) / 5L
  }

  private def minhashPairsIncrementalAt(spark: SparkSession, dir: String,
      deltaFrom: Long, minJaccard: Double): DataFrame = {
    val grp = groupedDense(spark, dir)
    // the "materialized index each ingest batch probes" is literally
    // [[corpusBandIndex]] — the same (cid, band, bh) relation the
    // streaming twin (qbb) probes, renamed. Reusing the keyed view
    // replaces a per-call `.cache()` that re-banded the corpus on every
    // invocation (each bench pass paid the build again — the round-10
    // q4b 1.46× flag's substrate) and means batch-incremental and
    // streaming ingest share ONE resident index, the deployment shape.
    val index = corpusBandIndex(spark, dir)
    val deltaGroups = grp.where(array_max(col("members")) >= deltaFrom)
    // Band the DELTA side directly off the cached group view (O(delta)
    // generate over already-cached sigs — the old form RECOVERED delta
    // bands by joining the full Bands×|contents| index against the delta
    // cid list, a second full-index shuffle before the probe even ran).
    // The probe join's index side then reuses corpusBandIndex's cached
    // (band, bh) partitioning/ordering: per probe, only delta bands move.
    val deltaBands = bandsOf(deltaGroups)
      .select(col("doc_id"), xxhash64(col("band"), col("bh")).as("kb"))
    val cand = deltaBands.as("x")
      .join(index.as("y"),
        col("x.kb") === col("y.kb") &&
          col("x.doc_id") =!= col("y.cid"))
      .select(least(col("x.doc_id"), col("y.cid")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.cid")).as("doc_b"))
      .distinct()
    // the verify only ever needs candidate-TOUCHING shingle sets: semi-
    // filter the (2 KB/row) shingle relation down to O(candidates) rows
    // before the array-carrying joins, instead of letting the verify
    // shuffle the whole corpus's arrays for a delta-bounded pair set.
    // `touched` is broadcast EXPLICITLY: it is ≤ 2·|candidates| 8-byte
    // ids of ONE ingest batch — broadcast-sized by construction — and
    // under AQE a plain semi-join still STARTS the grp side's shuffle
    // before the runtime stats that would convert it arrive (stages
    // materialize bottom-up in parallel), which at the 50M-doc fixture
    // wrote an 18.6 GB array-carrying shuffle for a filter whose other
    // side was a few MB. Broadcast makes the semi filter a shuffle-free
    // scan of the cached view at any corpus size.
    // ... "at any corpus size" holds only while the id set is DRIVER-sized:
    // |touched| ≤ 2·|cand|, and cand scales with collision count, not the
    // corpus — but a skewed batch (or a caller passing a bulk cutoff) can
    // blow past broadcast limits. Guard by MATERIALIZING cand once and
    // gating the broadcast on its exact count: cand is consumed three more
    // times downstream (both union branches of `touched` plus verifyPairs'
    // probe side), so r13's separate limit(cap+1).count() probe re-derived
    // the band join per call on top of those — the driver bench measured
    // q4b at 0.81×. The full count is never speculative work: over-cap
    // batches need every candidate downstream anyway, and under-cap ones
    // are driver-sized by definition. Cap is conf-gated (default 4M —
    // touched ≤ 2·4M 8-byte ids ≈ 64 MB of broadcast) so deployments can
    // size it to executor memory and the spec can force the shuffled
    // left-semi fallback without synthesizing 4M collisions.
    val broadcastCandCap = spark.conf
      .getOption("graft.dedup.broadcastCandCap").map(_.toLong)
      .getOrElse(4000000L)
    // MEMORY_ONLY for the [[viewCache]] reason (no row-format spill);
    // a transient because the returned relation still reads it
    val candM = SharedViews.transient(cand.persist(StorageLevel.MEMORY_ONLY))
    val candDriverSized = candM.count() <= broadcastCandCap
    val touched = candM.select(col("doc_a").as("doc_id"))
      .union(candM.select(col("doc_b").as("doc_id"))).distinct()
    val touchedFilter =
      if (candDriverSized) broadcast(touched) else touched
    val repPairs = verifyPairs(candM,
      grp.join(touchedFilter, Seq("doc_id"), "left_semi"), minJaccard)
    expandPairs(repPairs, grp, deltaGroups, minJaccard)
      .where(col("doc_a") >= deltaFrom || col("doc_b") >= deltaFrom)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** PORTABLE 64-bit string hash: the low quadword of md5, assembled
    * little-endian from digest bytes 9–16 (hex chars 17–32) — the same
    * alignment [[Relational.tableFingerprint]] uses, equal bit-for-bit to
    * DuckDB's `md5_number_lower` read as two's-complement. SimHash only
    * needs SOME uniform 64-bit hash, so choosing the one every engine can
    * recompute turns the whole fingerprint family into an EQUALITY oracle
    * (q43/q44) instead of a spec-only check; md5-vs-xxhash costs a few
    * ns/token, invisible next to the shuffle the pair join pays. */
  private[operators] def portableHash64(c: Column): Column =
    call_function("md5_quad64", c.cast("binary"))

  /** The pre-codegen Column formulation of [[portableHash64]] (md5 → hex →
    * substring×8 → conv×2) — kept as the bit-parity witness for the spec,
    * never on the query path. */
  private[operators] def portableHash64Lambda(c: Column): Column = {
    val h = md5(c.cast("binary"))
    def le32(c0: Int): Column = conv(concat(
      substring(h, c0 + 6, 2), substring(h, c0 + 4, 2),
      substring(h, c0 + 2, 2), substring(h, c0, 2)), 16, 10).cast("long")
    shiftleft(le32(25), 32).bitwiseOR(le32(17))
  }

  /** 64-bit SimHash fingerprint per document: per bit j, sign of
    * Σ_tokens (±1 by bit j of [[portableHash64]](token)). Each token is
    * hashed ONCE (`th`), then [[graft.functions.SimHash64]] folds all 64
    * bit-counters in a single codegen'd loop (bit-parity with the nested
    * aggregate/zip_with HOF formulation asserted in DedupSpec). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("tokens"))
      .withColumn("th", transform(col("tokens"), t => portableHash64(t)))
      .withColumn("fp", call_function("simhash64", col("th")))
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: block on 4×16-bit chunks (two fingerprints at
    * Hamming distance ≤ 3 share ≥ 1 exact chunk by pigeonhole), verify with
    * bit_count(xor). */
  def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    // duplicate collapse on the FINGERPRINT (a narrow 8-byte groupBy — no
    // adaptive probe needed): identical texts share fp, so g copies would
    // otherwise square every chunk bucket; fp-equal pairs re-expand at
    // hamming 0, cross-fp pairs inherit their representatives' distance
    val grp = SharedViews.transient(simhash(spark, dir)
      .groupBy("fp")
      .agg(min("doc_id").as("cid"), sort_array(collect_list("doc_id")).as("members"))
      .cache())
    val chunks = grp.select(col("cid"), col("fp"),
        explode(expr("transform(sequence(0, 3), j -> " +
          "struct(j AS chunk, (shiftright(fp, j * 16) & 65535) AS cv))")).as("c"))
      .select(col("cid"), col("fp"), col("c.chunk"), col("c.cv"))
    val repPairs = chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
          col("x.cid") < col("y.cid"))
      .select(col("x.cid").as("ca"), col("y.cid").as("cb"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
    val mem = grp.select(col("cid"), col("members"))
    val cross = repPairs
      .join(mem.as("ma"), col("ca") === col("ma.cid"))
      .join(mem.as("mb"), col("cb") === col("mb.cid"))
      .select(explode(col("ma.members")).as("ia"),
        col("mb.members").as("mbm"), col("hamming"))
      .select(col("ia"), explode(col("mbm")).as("ib"), col("hamming"))
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("hamming"))
    val within = grp.where(size(col("members")) > 1)
      .select(explode(col("members")).as("ia"), col("members"))
      .select(col("ia"), explode(col("members")).as("ib"))
      .where(col("ia") < col("ib"))
      .select(col("ia").as("doc_a"), col("ib").as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionAll(within).orderBy("hamming", "doc_a", "doc_b")
  }

  /** Exact word-3-gram Jaccard: top-k most similar pairs. Brute pairwise is
    * capped to doc_id < `cap` on the left side so the pair count stays
    * bounded at scale (the LSH paths above are the uncapped route). */
  def ngramJaccardTopK(spark: SparkSession, dir: String, k: Int = 50,
      cap: Long = 500): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val sh = shingled(spark, dir).select(col("doc_id"), col("sh"),
      size(col("sh")).as("n"))
    // two-pointer merge over the sorted shingle arrays: no hash table, no
    // allocation per pair (vs array_intersect), |A∪B| from precomputed sizes
    val inter = call_function("sorted_intersect_count", col("a.sh"), col("b.sh"))
    broadcast(sh.as("a").where(col("doc_id") < cap))
      .join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(inter.cast("double") / (col("a.n") + col("b.n") - inter), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** End-to-end near-dup GROUPING, the shape a corpus-dedup job actually
    * ships: [[minhashPairs]] edges → connected components (near-duplicity
    * is not transitive, but dedup policy treats chains as one group) →
    * canonical keeper = min doc_id of the group (the component label).
    * One row per grouped doc: (doc_id, group_id, group_size, is_keeper);
    * docs with no near-dup stay out (they're all keepers trivially).
    * Composes three engine operators into one declarative-plus-CC job —
    * at 100 TB both stages are the bucketed/bounded shapes proven by
    * their own queries (q42, q32). */
  /** Survivorship on top of [[dedupGroups]]: instead of the structural
    * min-id keeper, keep the HIGHEST-QUALITY member of each near-dup
    * group ([[TextOps.textStats]] quality score, ties to the smaller
    * doc_id) — the policy a real corpus dedup ships, expressed as one
    * max_by over the group join. Output one row per grouped doc with its
    * group, quality, and the chosen survivor. */
  def dedupSurvivors(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    val groups = dedupGroups(spark, dir, minJaccard)
      .select(col("doc_id"), col("group_id"))
    val quality = TextOps.textStats(spark, dir).select(col("doc_id"), col("quality"))
    val joined = groups.join(quality, "doc_id")
    val survivors = joined.groupBy("group_id").agg(
      min_by(col("doc_id"), struct(negate(col("quality")), col("doc_id")))
        .as("survivor"))
    joined.join(survivors, "group_id")
      .select(col("doc_id"), col("group_id"), col("quality"),
        (col("doc_id") === col("survivor")).as("keep"))
      .orderBy("group_id", "doc_id")
  }

  def dedupGroups(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame =
    // the labeled-group relation is itself a keyed materialized view:
    // three faces consume it (q56, the q8n survivorship on top, qbc's
    // group-aware split key), each previously re-running band join + CC +
    // expansion — the residual q8n cost after the groupedDense cache
    // landed. Cached UNordered; each face applies its own presentation
    // sort.
    SharedViews.view("dedup.groups", spark, dir, minJaccard) {
      // CC runs at CONTENT level (the q9q name-level discipline): vertices
      // are content representatives, edges the verified rep pairs; the
      // expanded record graph's components are exactly the unions of its
      // contents' member sets (within-content docs are a clique via J = 1,
      // cross-content edges connect whole member sets), and min-doc labels
      // coincide (every member ≥ its content's cid). Docs join their
      // content's label back in one linear pass — no 27M-edge record CC
      // (measured: 10.9 s → content CC is 5k vertices at sf10).
      val (repPairs, grp) = repPairsAndGroups(spark, dir, minJaccard)
      val edges = repPairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      val comp = GraphOps.componentsAuto(spark, edges) // label = min member
      val mem = grp.select(col("doc_id").as("cid"), col("members"))
      // a doc is "grouped" iff its content pairs with another content, or
      // its content has ≥ 2 copies (the within-clique at J = 1.0 ≥ minJ)
      val hasEdge = edges.select(col("u").as("cid"))
        .unionAll(edges.select(col("v").as("cid"))).distinct()
        .withColumn("he", lit(true))
      val docs = mem
        .join(comp, mem("cid") === comp("vertex"), "left_outer")
        .join(hasEdge, Seq("cid"), "left_outer")
        .where(col("he").isNotNull ||
          (size(col("members")) > 1 && lit(1.0) >= minJaccard))
        .select(explode(col("members")).as("doc_id"),
          coalesce(col("component"), col("cid")).as("group_id"))
      val sizes = docs.groupBy("group_id").agg(count(lit(1)).as("group_size"))
      docs.join(sizes, "group_id")
        .withColumn("is_keeper", col("doc_id") === col("group_id"))
        .select("doc_id", "group_id", "group_size", "is_keeper")
        .cache()
    }.orderBy("group_id", "doc_id")

  /** qad: prefix-filtered set-similarity join (the PPJoin/AllPairs
    * family) — the EXACT counterpart of the probabilistic MinHash route,
    * with the same uncapped scale story: order every doc's 3-shingle set
    * by GLOBAL rarity (rarest first), then a pair (A,B) with
    * J(A,B) ≥ t must share a shingle inside A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles (if all of A's prefix missed B, the
    * remaining suffix is too short to reach the ⌈t·|A|⌉ overlap J ≥ t
    * requires). So candidates come from joining PREFIX shingles against
    * full shingle lists — rare shingles fan out to almost nothing, and
    * the frequent ones that would hot-spot the join sort to the suffix
    * and never become keys. Verify = exact Jaccard over the sorted hash
    * sets via the codegen'd two-pointer intersect. Shingles travel as
    * xxhash64 (8-byte join keys); the oracle recomputes from RAW strings,
    * pinning the hash swap (the q45 discipline). */
  /** qb2: DIRECTED containment join — docs whose shingle set is ≥ t
    * inside another doc's (boilerplate/quote/subset detection, which
    * symmetric Jaccard misses: a page embedded in a larger one has low
    * J but containment ≈ 1). The qad prefix filter carries over
    * unchanged because the pigeonhole argument runs on the CONTAINED
    * side alone: containment ≥ t means ≥ ⌈t·|A|⌉ of A's shingles are
    * in B, so one of A's |A| − ⌈t·|A|⌉ + 1 rarest shingles must be.
    * Direction is preserved (no pair canonicalization); verify =
    * intersect / |A|. */
  /** Distinct-content collapse shared by the exact set-similarity joins
    * (qad, qb2): one representative row per distinct shingle SET plus the
    * doc membership. Exact duplicates are collapsed BEFORE any pairwise
    * stage — g copies of one text would multiply candidate work by g²
    * while adding zero information (the q8a lesson, measured 25× at a
    * 10×-replicated corpus) — and re-expanded afterwards, so output stays
    * doc-level and oracle-identical. `sh` is a sorted-distinct array, so
    * set equality IS array equality and groups by the column directly;
    * two docs share a group iff their Jaccard is exactly 1. */
  /** ADAPTIVE: the collapse is the right asymptotic under heavy
    * duplication (g copies → g² candidate work, measured 10× at a 10×-
    * replicated sf1 corpus) but pure overhead when content is near-unique
    * — on the sf0.1 fixture (gmax = 2) it cost qb2 +0.23 s for nothing.
    * Probe the duplication profile first with a NARROW shuffle (8-byte
    * xxhash64 of the shingle set, cached input) — far cheaper than the
    * array-keyed groupBy + collect_list it decides about — and skip the
    * collapse when no content group exceeds [[CollapseMaxGroup]] (the
    * residual g² inflation is then ≤ 16 micro-pairs per group, while
    * identical-set pairs still surface through the prefix join, so the
    * OUTPUT is provably unchanged — only the plan adapts). */
  private val CollapseMaxGroup = 4L

  private[graft] def contentGroups(spark: SparkSession, dir: String): DataFrame =
    SharedViews.view("dedup.contentGroups", spark, dir) {
      val base = shingled(spark, dir).where(size(col("sh")) > 0)
      // the max aggregate over an EMPTY corpus (or one where every text
      // yields zero shingles) returns a null row — read it safely so the
      // empty-corpus case stays "empty output", not an NPE at plan time
      val gmax = Option(base.groupBy(xxhash64(col("sh")).as("h"))
          .agg(count(lit(1)).as("g")).agg(max("g")).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      if (gmax <= CollapseMaxGroup)
        // no-collapse branch: a pure PROJECTION of the already-cached
        // shingle relation — caching it would pin every sh array a
        // SECOND time for zero dedup benefit, and unique-heavy corpora
        // (the perturbed scale fixtures, i.e. real 100 TB data) are
        // exactly where the dedup family's memory pressure bites
        // (sf10p: ~2-3 GB of sh arrays, doubled for nothing)
        base.select(col("doc_id").as("cid"), col("sh"),
          array(col("doc_id")).as("members"))
      else
        viewCache(base.groupBy("sh")
          .agg(min("doc_id").as("cid"), collect_list("doc_id").as("members")))
    }

  /** (cid, o) — per content, its shingle hashes as (df, h) structs sorted
    * rarest-first: the shared base of BOTH set-similarity joins (qad's
    * Jaccard prefix at t=0.5, qb2's containment prefix at t=0.8 — the
    * thresholds only change how much of `o` each face SLICES). Keyed
    * materialized view, STAGED to parquet per fixture (the shingle-cache
    * discipline): the explode + document-frequency aggregate +
    * per-content collect_list/sort is a pure derivation of
    * documents.parquet, and when the candidate-join shuffle evicts the
    * cached blocks mid-rep, an unstaged build re-runs the whole
    * aggregation — the mechanism behind qb2's 61→272 s same-plan warm
    * swings at sf10p. Staged, an evicted partition re-reads a columnar
    * scan instead. The cache is filled by one scan job at build:
    * [[prefixJaccardJoin]] self-joins it, and a cache left for the join's
    * two concurrent stages to fill has both compute the same partition. */
  private def prefixOrder(spark: SparkSession, dir: String): DataFrame =
    SharedViews.view("dedup.prefixOrder", spark, dir) {
      val src = s"$dir/documents.parquet"
      val staged = graft.sources.Staging.persistent(
        "prefix-order", src, graft.sources.Staging.fingerprintOf(src)) { out =>
        val toks = contentGroups(spark, dir)
          .select(col("cid"), explode(col("sh")).as("h"))
        val df = toks.groupBy("h").agg(count(lit(1)).as("df"))
        toks.join(df, "h")
          .groupBy("cid")
          .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("o"))
          .write.mode("overwrite").parquet(s"$out/prefix_order")
      }
      val view = viewCache(Tables.parquet(spark, s"$staged/prefix_order"))
      view.rdd.count()
      view
    }

  /** Filter-threshold slack: the verify rounds to 6 dp (oracle parity),
    * so a pair with exact score t − 5e-7 still PASSES verification — every
    * candidate-pruning bound must therefore be computed at a threshold
    * lower by at least that rounding tolerance, or the filters could drop
    * a pair the verify would keep. 1e-6 also absorbs double-rounding in
    * the ceil/floor bound arithmetic. */
  private val VerifyTol = 1e-6

  /** The rarity-prefix relation at `threshold`, with the PPJoin pruning
    * metadata: (cid, la = set size, pa = 0-based global rank of h, h) for
    * the first (len − ceil(len·t) + 1) rarest hashes per content —
    * prefix-filter completeness holds for ANY fixed global token order,
    * so the shared df-rarity order serves every threshold. */
  /** The rarity-window relation with an ℓ-extended prefix (AdaptJoin;
    * ℓ = 1 is the classic prefix filter): the first
    * (len − ⌈len·t⌉ + ℓ) rarest hashes. Pigeonhole: a partner meeting the
    * overlap bound ⌈t·len⌉ misses at most len − ⌈t·len⌉ of A's tokens, so
    * among any len − ⌈t·len⌉ + ℓ of them at least min(ℓ, ⌈t·len⌉) are
    * shared — requiring ℓ matches inside the extended window prunes the
    * 1-shared-token candidate bulk that a plain prefix filter admits. */
  private[graft] def prefixAtExt(spark: SparkSession, dir: String,
      threshold: Double, ext: Int): DataFrame =
    prefixOrder(spark, dir).select(col("cid"), size(col("o")).as("la"),
      posexplode(slice(transform(col("o"), s => s.getField("h")), lit(1),
        (size(col("o")) - ceil(size(col("o")) * lit(threshold - VerifyTol))
          + ext).cast("int"))))
      .select(col("cid"), col("la"), col("pos").as("pa"), col("col").as("h"))

  /** (cid, lb, pb, h) probe side of the DIRECTED candidate join — the full
    * token list with sizes and global ranks (a flat re-expansion of the
    * cached [[prefixOrder]]; reading the cached relation skips the df
    * re-join). The containment join must probe FULL token lists: the
    * containing side B has no overlap bound relative to |B|, so no prefix
    * of B is safe to drop. (The symmetric Jaccard join probes prefixes on
    * BOTH sides instead — see [[prefixJaccardJoin]].) */
  private[graft] def prefixToks(spark: SparkSession, dir: String): DataFrame =
    prefixOrder(spark, dir).select(col("cid"), size(col("o")).as("lb"),
      posexplode(transform(col("o"), s => s.getField("h"))))
      .select(col("cid"), col("lb"), col("pos").as("pb"), col("col").as("h"))

  def containmentJoin(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val grp = contentGroups(spark, dir) // session-cached keyed view
    val reps = grp.select(col("cid"), col("sh"))
    val mem = grp.select(col("cid"), explode(col("members")).as("doc_id"))
    val toks = prefixToks(spark, dir)
    // AdaptJoin ℓ=2 candidate generation, provably complete for pairs the
    // (6-dp-rounded) verify keeps — all bounds at threshold − VerifyTol:
    //  - length: containment ≥ t needs |A∩B| ≥ m = ⌈t·|A|⌉ and
    //    |A∩B| ≤ |B|, so any B with |B| < m drops at the join;
    //  - window + count: A misses at most |A| − m of its own tokens, so
    //    among A's first |A| − m + 2 (rarest) tokens at least min(2, m)
    //    are in B; and the j-th common token (global rarity order, shared
    //    by both lists) sits at B-position ≤ |B| − 1 − (m − j), so for
    //    j ≤ 2 the row is inside pb ≤ |B| − m + 1. Requiring
    //    cnt ≥ min(2, m) therefore keeps every true pair while killing
    //    the 1-shared-token candidate bulk a plain prefix filter admits —
    //    measured at sf10p: 17.38M distinct candidates → 313k, with the
    //    count aggregate costing what the distinct did. The verify's
    //    array-carrying shuffle (the face's unstable 6–47 s swing source)
    //    shrinks to ~2% of its volume.
    val m = ceil(col("p.la") * lit(threshold - VerifyTol))
    val cand = prefixAtExt(spark, dir, threshold, 2).as("p")
      .join(toks.as("i"),
        col("p.h") === col("i.h") && col("p.cid") =!= col("i.cid") &&
        col("i.lb") >= m &&
        col("i.pb") <= col("i.lb") - m + lit(1))
      .groupBy(col("p.cid").as("ca"), col("i.cid").as("cb"), col("p.la"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >=
        least(lit(2), ceil(col("la") * lit(threshold - VerifyTol))))
      .select("ca", "cb")
    val inter = call_function("sorted_intersect_count",
      col("x.sh"), col("y.sh"))
    val crossContent = cand.join(reps.as("x"), col("ca") === col("x.cid"))
      .join(reps.as("y"), col("cb") === col("y.cid"))
      .select(col("ca"), col("cb"),
        round(inter.cast("double") / size(col("x.sh")), 6)
          .as("containment"))
      .where(col("containment") >= threshold)
    val cross = crossContent
      .join(mem.as("ma"), col("ca") === col("ma.cid"))
      .join(mem.as("mb"), col("cb") === col("mb.cid"))
      .select(col("ma.doc_id").as("a"), col("mb.doc_id").as("b"), col("containment"))
    // identical sets contain each other exactly (1.0 ≥ any threshold):
    // every ORDERED pair within a content group
    val within = grp.where(size(col("members")) > 1)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"), lit(1.0).as("containment"))
    cross.unionAll(within).orderBy("a", "b")
  }

  def prefixJaccardJoin(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val grp = contentGroups(spark, dir) // session-cached keyed view
    val reps = grp.select(col("cid"), col("sh"))
    val mem = grp.select(col("cid"), explode(col("members")).as("doc_id"))
    // per content: tokens sorted rarest-first; keep only the ℓ=2-extended
    // window (shared keyed view with the containment join — see
    // prefixOrder). BOTH join sides are windows here: J ≥ t forces
    // overlap ≥ t·|A∪B| ≥ t·max(|A|,|B|), so side X misses at most
    // |X| − ⌈t·|X|⌉ of its own tokens and the j-th common token (j ≤ 2,
    // global rarity order, shared by both lists) sits inside X's first
    // |X| − ⌈t·|X|⌉ + j positions — both generating rows for a true pair
    // land in the window×window join, and cnt ≥ min(2, ⌈t·max⌉) keeps it
    // (overlap ≥ ⌈t·max⌉, so 2 common tokens exist whenever the
    // requirement says 2) while killing the 1-shared-token candidate bulk
    // (the containmentJoin measurement: 17.38M → 313k at sf10p). The
    // length bounds t·|A| ≤ |B| ≤ |A|/t and the count rule are symmetric
    // as pair conditions, so p.cid < i.cid keeps exactly one generating
    // direction: half the rows into the aggregate, same surviving pairs.
    val tf = threshold - VerifyTol
    val prefix = prefixAtExt(spark, dir, threshold, 2)
    val cand = prefix.as("p").join(prefix.as("i"),
        col("p.h") === col("i.h") && col("p.cid") < col("i.cid") &&
        col("i.la") >= ceil(col("p.la") * lit(tf)) &&
        col("i.la").cast("double") <= col("p.la") / lit(tf))
      .groupBy(col("p.cid").as("ca"), col("i.cid").as("cb"),
        col("p.la"), col("i.la").as("lb"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >=
        least(lit(2), ceil(greatest(col("la"), col("lb")) * lit(tf))))
      .select("ca", "cb")
    val inter = call_function("sorted_intersect_count", col("a.sh"), col("b.sh"))
    val crossContent = cand.join(reps.as("a"), col("ca") === col("a.cid"))
      .join(reps.as("b"), col("cb") === col("b.cid"))
      .select(col("ca"), col("cb"),
        round(inter.cast("double")
          / (size(col("a.sh")) + size(col("b.sh")) - inter), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
    val cross = crossContent
      .join(mem.as("ma"), col("ca") === col("ma.cid"))
      .join(mem.as("mb"), col("cb") === col("mb.cid"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("u"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("v"), col("jaccard"))
    // identical sets: J = 1.0 exactly — every unordered within-group pair
    val within = grp.where(size(col("members")) > 1)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a") < col("b"))
      .select(col("a").as("u"), col("b").as("v"), lit(1.0).as("jaccard"))
    cross.unionAll(within).orderBy("u", "v")
  }
}
