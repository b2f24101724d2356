package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines. The pair
  * generators are Catalyst plans (higher-order functions + joins) so
  * Catalyst handles pushdown, AQE handles skew, and nothing materializes
  * on the driver. All four ([[minhashPairs]], [[simhashPairs]],
  * [[jaccardPairs]], [[embeddingNearDups]]) key their rows, then pair the
  * rows that share a bucket through one self-join, [[bucketPairs]]; each
  * keeps its own verify step. [[connectedComponents]] runs its rounds over
  * an RDD of id pairs, one Spark job per round.
  *
  * Scale notes (100 TB): every variant is shuffle-bounded by design —
  * exact dedup shuffles one 64-hex key per doc; MinHash/LSH shuffles
  * (bands × docs) small keys and only verifies within buckets; the
  * inverted-index Jaccard join shuffles (doc, shingle) pairs, pruned by
  * a min-length predicate before the join.
  */
object Dedup {

  /** Normalized text (lowercase, punctuation → space, whitespace runs
    * collapsed to single spaces, trimmed) — the codegen'd builtin prefix
    * shared by all tokenizations. The collapse step matters for exactness:
    * without it, text whose normalization leaves boundary `\t`/`\n` (which
    * `trim` does not strip) makes regex `split('\s+')` emit boundary EMPTY
    * tokens that a byte-level tokenizer never sees — after the collapse all
    * three tokenizations (SQL split here, SQL split in the DuckDB oracle,
    * and the native [[graft.functions.Md5ShingleH60]] scanner) agree on
    * every input. Token/shingle VALUES are unchanged (split on `\s+` is
    * insensitive to run lengths).
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " "), "\\s+", " "))

  /** Normalized word array — shared tokenization for shingles/Jaccard. */
  def words(text: Column): Column = split(normalized(text), "\\s+")

  /** Word n-gram shingles via HOFs: slice a sliding window over the word
    * array. Empty when the doc has fewer than n words.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = words(text)
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n)))))
  }

  // ------------------------------------------------------------------ exact

  /** Exact dedup: group by content hash, keep the lexicographically-first
    * doc_id as canonical. One shuffle on a 64-char key; map-side partial agg
    * shrinks it. Output: (hash, canonical_doc_id, n_dups).
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)

  /** Survivors of exact dedup: one row per distinct content, the minimal-id
    * row winning. `min_by` under a hash aggregate — map-side partial
    * reduction, no window sort exchange (the round-number-window formulation
    * sorts every row through one exchange; ids are unique so min_by's
    * pick is deterministic).
    */
  def exactSurvivors(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cols = docs.columns
    docs.groupBy(sha2(col(textCol), 256).as("__content_hash"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col(s"__row.$c")): _*)
  }

  // ---------------------------------------------------------------- minhash

  /** h60 shingle hashes (engine-portable md5-derived lanes, one native pass —
    * [[graft.functions.Md5ShingleH60]]); the DuckDB oracle reproduces every
    * value from `md5(shingle)`, so the whole LSH chain is hash-checkable.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.Md5ShingleH60.md5ShingleH60(normalized(text), n)

  /** K-permutation MinHash signature (Broder 1997 lineage, public): one h60
    * per shingle, then K portable affine rehashes ((a_k·h + b_k) mod P).
    */
  def minhashSignature(text: Column, k: Int = 32, shingleN: Int = 3): Column =
    graft.functions.PortableMinHashSig.portableMinhashSig(shingleHashes(text, shingleN), k)

  /** MinHash LSH near-dup pairs: band the signature (bands × rowsPerBand = k),
    * pair docs sharing a (band index, band key) bucket ([[bucketPairs]]),
    * verify candidates with exact Jaccard over shingle-hash sets, keep pairs
    * ≥ threshold. Each doc's shingle-hash set is computed in one pass and
    * checkpointed eagerly (one Spark job when called; see [[checkpoint]]).
    *
    * Shuffle profile: explode emits `bands` rows/doc with a small (int,
    * string) key; the self-join is an equi-join on that key; verification
    * happens only inside buckets. No O(n²) stage anywhere. The band key is
    * the lane values joined by '_' — portable, so a SQL oracle reproduces
    * the candidate set exactly.
    */
  def minhashPairs(
      docs: DataFrame,
      threshold: Double = 0.7,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // one shingle pass: each doc's distinct shingle-hash set is computed
    // once and checkpointed, and feeds both banded sides and both verify
    // sides (as four lazy subplans they re-scanned the input and re-hashed
    // every doc's shingles per use). MinHash is a minimum over a set, so
    // the distinct array gives the same signature.
    val sh = checkpoint(docs.select(col(idCol).as("doc_id"),
      array_distinct(shingleHashes(col(textCol), shingleN)).as("sh")))
    // candidate generation carries ONLY (band keys, id): the shingle arrays
    // never ride the banded self-join (they did in a first cut — 18× slower:
    // every false candidate shipped two ~170-element string arrays).
    // Docs with no shingles (< shingleN words) would all share one sentinel
    // signature — one hot band key and a quadratic join blowup on
    // short-doc-heavy corpora — so they are dropped before banding, mirroring
    // the simhashPairs zero-token guard (they can never verify anyway:
    // Jaccard over an empty set is 0).
    val banded = sh
      .filter(size(col("sh")) > 0)
      .select(col("doc_id").as("id"),
        graft.functions.PortableMinHashSig.portableMinhashSig(col("sh"), k).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", slice(col("sig"), b * rows + 1, lit(rows))))
        ).as(Seq("band", "band_key")))
    val candidates = bucketPairs(banded, "band", "band_key").select("id_a", "id_b").distinct()
    // verify: join the deduped candidates back to the (hashed) shingle sets
    // once — Jaccard over h60 sets equals Jaccard over string sets up to
    // negligible 60-bit collisions
    candidates
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The pairs of `keyed` rows that agree on every `keys` column, once per
    * shared bucket, with `id_a < id_b`: `id` and every other non-key column
    * come along from both sides, suffixed `_a` and `_b`. The one bucket
    * self-join behind every pair generator; a pair that shares several
    * buckets appears once per bucket, so callers that need a pair set
    * `distinct` it.
    */
  private def bucketPairs(keyed: DataFrame, keys: String*): DataFrame = {
    val rest = keyed.columns.filterNot(keys.contains)
    def side(s: String) = keyed.select(keys.map(col) ++ rest.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys).filter(col("id_a") < col("id_b"))
  }

  /** Eager checkpoint: reliable (HDFS-durable, survives executor loss
    * mid-query) when the session has a checkpoint dir
    * (`sparkContext.setCheckpointDir`), `localCheckpoint` otherwise —
    * executor-local blocks, fine single-box, lossy on a cluster, so
    * cluster deployments should set the dir.
    */
  private def checkpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Exact Jaccard over two shingle arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    round(when(union === 0, 0.0).otherwise(inter / union), 6)
  }

  // ---------------------------------------------------------------- simhash

  /** 60-bit SimHash from word tokens (Charikar 2002 lineage, public): token
    * h60 hashes, then the native [[graft.functions.PortableSimHash60]]
    * expression — one pass, engine-portable (the oracle rebuilds every bit
    * from md5). Cost O(60·tokens), bounded by the `maxTokens` prefix.
    */
  def simhash(text: Column, maxTokens: Int = 128): Column =
    graft.functions.PortableSimHash60.portableSimhash60(
      graft.functions.Md5ShingleH60.md5ShingleH60(normalized(text), 1, maxTokens))

  /** SimHash near-dup candidates: band the 60-bit signature into four 15-bit
    * chunks; docs sharing any (band, chunk) bucket are candidates
    * ([[bucketPairs]], the signature riding along; catches hamming distance
    * ≤ 3 with certainty, larger distances probabilistically); verify by full
    * hamming distance.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // token-less docs all hash to 0 — without this guard they form one hot
    // band key (quadratic join blowup) and emit spurious hamming-0 pairs.
    // Tokenize ONCE: filter and signature share the same token-hash column.
    val withSig = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.Md5ShingleH60.md5ShingleH60(
          normalized(col(textCol)), 1, 128).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.PortableSimHash60.portableSimhash60(col("toks")).as("sig"))
    val banded = withSig.select(col("doc_id").as("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 15).bitwiseAND(lit(0x7fffL))): _*)).as(Seq("band", "chunk")))
    bucketPairs(banded, "band", "chunk")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------- inverted-index Jaccard

  /** N-gram Jaccard similarity pairs via an inverted-index join (SQL-exact,
    * oracle-checkable): index each doc's PPJoin prefix of its sorted
    * distinct shingles, pair the docs sharing an indexed shingle
    * ([[bucketPairs]], set sizes and positions riding along) for candidate
    * pairs, then verify each candidate's exact Jaccard against the full sets.
    *
    * The join key is the shingle — frequency-skewed shingles are the classic
    * hot key (a stopword-ish shingle in df docs contributes O(df²) join
    * rows), so `maxDocFreq > 0` applies the standard document-frequency cap:
    * shingles appearing in more than `maxDocFreq` docs are dropped from the
    * index AND from the per-doc set sizes, i.e. Jaccard is computed exactly
    * over the capped shingle universe (the CCNet/Gopher-style trick; a SQL
    * oracle mirrors it with the same df filter). AQE skew join remains the
    * backstop for the sub-cap tail.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double, shingleN: Int = 3,
      maxDocFreq: Int = 0,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // round 5: the PPJoin prefix path gained the POSITIONAL filter, which
    // bounds candidate emission at low thresholds too — measured (sf0.1,
    // the SparkEntry row config) against a count-aggregation join (explode
    // every shingle, self-join, count common per pair; since deleted):
    // t=0.18 2.3s vs 3.7s, t=0.05 2.8s vs 3.6s — so it is the one path at
    // every threshold. DedupPathsSpec checks it against naive all-pairs.
    val sh0 = docs.select(col(idCol).as("doc_id"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
    // length filter (lossless): J(A,B) ≥ t forces
    // t·max(|A|,|B|) ≤ min(|A|,|B|) — prunes co-occurrence rows before the
    // quadratic stage; 1e-9 guards the fp boundary. All filters below are
    // lossless for the final threshold, so the result set (and the SQL
    // oracle) is unchanged.
    def lengthOk = greatest(col("n_a"), col("n_b")) * threshold <=
      least(col("n_a"), col("n_b")) + lit(1e-9)
    // canonical global order = hash order (array_sort): the PPJoin
    // prefix filter needs every doc's shingles under ONE total order.
    // `sets` feeds THREE consumers (prefix index + both verify sides)
    // and Catalyst does not reuse the underlying exchange across their
    // differing repartitionings (verified: no ReusedExchange in the
    // plan), so it is persisted — shingling/capping runs once, not 3×.
    // The persist is SCOPED: the (output-sized) result is materialized
    // below and `sets` unpersisted before returning, so long-lived apps
    // never accumulate the big intermediate. The returned DataFrame is
    // itself persisted (it IS the materialization); callers may
    // `.unpersist()` it when done.
    val sets = (
      if (maxDocFreq <= 0)
        sh0.select(col("doc_id"), array_sort(col("sh")).as("sh"),
          size(col("sh")).as("n_sh"))
      else {
        val inv0 = sh0.select(col("doc_id"), explode(col("sh")).as("shingle"))
        val hot = inv0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq)
          .select("shingle")
        // re-assemble the CAPPED sets (exact jaccard over the capped
        // universe; fully-capped docs drop out)
        inv0.join(hot, Seq("shingle"), "left_anti")
          .groupBy(col("doc_id"))
          .agg(array_sort(collect_list(col("shingle"))).as("sh"))
          .select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
      }
    ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // PPJoin-style prefix candidates (Bayardo et al. All-Pairs / Xiao et
    // al. PPJoin, both public): |A∩B| ≥ t·max forces a collision within
    // each side's first |S| − ⌈t·|S|⌉ + 1 shingles under the global order — index ONLY that prefix (t=0.8 keeps ~20%,
    // shrinking the quadratic stage ~25×), then verify the surviving
    // pairs exactly against the full (capped) sets.
    val prefixLen = greatest(
      (col("n_sh") - ceil(col("n_sh") * threshold - lit(1e-9)) + 1).cast("int"), lit(1))
    // positions ride along (posexplode): the PPJoin POSITIONAL filter —
    // for the FIRST common shingle at 0-based positions (p_a, p_b), the
    // overlap cannot exceed min(n_a − p_a, n_b − p_b), and J ≥ t needs
    // overlap ≥ t/(1+t)·(n_a+n_b); a true pair's first common shingle is
    // inside both prefixes and passes, so keeping any-passing-collision
    // pairs is lossless (Xiao et al. PPJoin, §3.2) — this is what bounds
    // the candidate blow-up at LOW thresholds, where the prefix alone
    // keeps ≈(1−t) of the index
    val inv = sets.select(col("doc_id").as("id"), col("n_sh").as("n"),
      posexplode(slice(col("sh"), lit(1), prefixLen)).as(Seq("pos", "shingle")))
    val positionalOk = least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) >=
      (col("n_a") + col("n_b")) * lit(threshold / (1 + threshold)) - lit(1e-9)
    val candidates = bucketPairs(inv, "shingle")
      .filter(lengthOk && positionalOk)
      .select("id_a", "id_b").distinct()
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("n_sh").as("n_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("n_sh").as("n_b"))
    val verified = candidates.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("common") / (col("n_a") + col("n_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // a REPEATED call builds a plan identical to a still-cached previous
    // result; re-persisting it would only log a CacheManager warning —
    // `storageLevel` (public API) consults the cache by plan, so the
    // already-cached result is reused silently
    if (verified.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try { verified.count(); () } finally sets.unpersist(blocking = true)
    verified
  }

  // -------------------------------------------------- exact-substring dedup

  /** Exact-substring duplication fraction — the suffix-array ExactSubstr
    * family of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"), re-expressed as a Spark corpus join: slide
    * a k-token window over every document, count the DISTINCT documents
    * each window appears in, and report per document the fraction of its
    * windows that also occur in another document. Documents shorter than
    * k tokens have no windows and report 0.0.
    *
    * Scale shape: one explode (linear in corpus tokens), one window-key
    * aggregate with partial (map-side) combine, one semi-style join-back,
    * one per-doc aggregate. Windows shuffle as 64-bit xxhash64 keys, not
    * strings — at k=8 that is ~10× narrower on the wire; a hash collision
    * falsely marks one window pair duplicated with p ≈ n²/2⁶⁵ (harmless
    * noise in a fraction signal; exact span REMOVAL would key on the
    * text). No all-pairs stage; a boilerplate window shared by millions
    * of docs is ONE aggregate row (count, not pair expansion), so hot
    * windows cannot blow up the plan.
    *
    * @return docs + `n_windows` (int) + `dup_window_frac` (double, one
    *         IEEE division)
    */
  def withDuplicateWindowFraction(
      docs: DataFrame,
      k: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val wins = docs.select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), k)).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("win"))
    val dupWins = wins.groupBy("win")
      .agg(countDistinct(col("doc_id")).as("wdf"))
      .filter(col("wdf") > 1)
      .select("win")
    val perDoc = wins
      .join(dupWins.withColumn("is_dup", lit(1)), Seq("win"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_windows"),
        (sum(coalesce(col("is_dup"), lit(0))).cast("double") /
          count(lit(1)).cast("double")).as("dup_window_frac"))
    docs.join(perDoc, docs(idCol) === perDoc("doc_id"), "left")
      .drop(perDoc("doc_id"))
      .withColumn("n_windows", coalesce(col("n_windows"), lit(0)))
      .withColumn("dup_window_frac",
        coalesce(col("dup_window_frac"), lit(0.0)))
  }

  // ----------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicates above a threshold, LSH-bucketed by
    * random-hyperplane sign bits (native
    * [[graft.functions.PortableHyperplaneBucket]]: Rademacher ±1 components
    * from md5 parity — deterministic AND reproducible in the SQL oracle).
    * Vectors sharing a sign-bucket are candidates ([[bucketPairs]], the
    * vectors riding along); cosine verifies. `planes` controls the
    * recall/cost trade.
    */
  def embeddingNearDups(
      vecs: DataFrame,
      threshold: Double = 0.95,
      planes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val bucketed = vecs.select(col(idCol).as("id"), v.as("vec"),
      graft.functions.PortableHyperplaneBucket.portableHyperplaneBucket(v, planes).as("bucket"))
    bucketPairs(bucketed, "bucket")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Connected components over a near-duplicate pair graph — the cluster
    * step a dedup pipeline needs between pair generation
    * ([[minhashPairs]]/[[simhashPairs]]/[[jaccardPairs]]/[[embeddingNearDups]])
    * and canonical-doc selection (`keep doc_id == cluster_id`; the pair
    * lists alone cannot drop duplicates transitively: a~b, b~c must
    * collapse a,b,c into ONE cluster even when a~c was never emitted).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): O(log n)
    * rounds in practice under any numbering (a randomly numbered 200-node
    * path takes 8, a 1000-node chain 12; ComponentsSpec runs both). The
    * edge set is rewritten each round, every edge kept as (larger,
    * smaller) id: large-star links each node's larger neighbors to the
    * minimum of its closed neighborhood; small-star links each node and
    * its smaller neighbors to the minimum of those. Both preserve
    * connectivity and never join two components; their fixed point is one
    * star per component, centered at its minimum.
    *
    * The edge list is each pair once, kept only when both ends are in
    * `nodes` and differ (an id outside `nodes` never carries a label, so
    * it bridges nothing). A round runs over an RDD of id pairs: each star
    * step groups every node's deduplicated neighbors on one fixed
    * `HashPartitioner`, and the action that checkpoints the round's edges
    * is the round's only Spark job; it also counts the edges that changed
    * (an accumulator), and a round that changes none ends the loop. Ids
    * compare under Spark SQL's ordering of the id type (Long numerically,
    * String by UTF-8 bytes), so `cluster_id` is the component's minimum
    * under Spark SQL `min`. Per-round cost is O(|edges|), never O(corpus);
    * a star step holds one node's neighbor list in memory, so the largest
    * component bounds a task's memory. The labels come from one last star
    * step over the edges plus a self-link per node, with no final join.
    * Checkpoints are RELIABLE (HDFS-durable) when the session has a
    * checkpoint dir, executor-local otherwise (see [[checkpoint]]).
    *
    * @return (doc_id, cluster_id), one row per distinct node id (an id
    *         listed twice in `nodes` gets one row; a null id gets one
    *         `(null, null)` row), both of the id column's type — singletons
    *         keep their own id (their self-link), members carry the
    *         component's minimum. If a component needs more than `maxIters`
    *         rounds a WARN names the round and pending change counts, and
    *         each label is the least id the node is linked to (never above
    *         its own id; over-segmented, never wrongly merged) — raise
    *         `maxIters` for such graphs.
    */
  def connectedComponents(
      nodes: DataFrame,
      pairs: DataFrame,
      maxIters: Int = 25,
      idCol: String = "doc_id",
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val spark = nodes.sparkSession
    val sc = spark.sparkContext
    val ids = nodes.select(col(idCol).as("n_id"))
    val idType = ids.schema.head.dataType
    val (a, b) = (col(aCol).cast(idType), col(bCol).cast(idType))
    // rows are reused buffers: copy before keeping their values
    def tuples(df: DataFrame): RDD[(Any, Any)] = df.queryExecution.toRdd.map { r =>
      val c = r.copy()
      (c.get(0, idType), c.get(1, idType))
    }
    var edges = tuples(pairs.filter(col(aCol) =!= col(bCol))
      .join(ids, col(aCol) === col("n_id"), "left_semi")
      .join(ids, col(bCol) === col("n_id"), "left_semi")
      .select(greatest(a, b), least(a, b)))
    val part = new HashPartitioner(math.max(1, edges.getNumPartitions))
    // group each node's distinct neighbors on the one partitioner and emit
    // new edges under Spark SQL's ordering of the id type
    def byNode(e: RDD[(Any, Any)])(
        step: (Ordering[Any], Any, Array[Any]) => Iterator[(Any, Any)]): RDD[(Any, Any)] =
      e.groupByKey(part).mapPartitions { it =>
        val ord = TypeUtils.getInterpretedOrdering(idType)
        it.flatMap { case (u, ns) => step(ord, u, ns.toArray.distinct) }
      }
    val reliable = sc.getCheckpointDir.isDefined
    var rounds = 0
    var pending = -1L
    while (pending != 0 && rounds < maxIters) {
      val changed = sc.longAccumulator
      val large = byNode(edges.flatMap { case (hi, lo) => Iterator(hi -> lo, lo -> hi) }) {
        (ord, u, ns) =>
          val m = ord.min(u, ns.min(ord))
          val larger = ns.filter(ord.gt(_, u))
          if (m != u) changed.add(larger.length)
          larger.iterator.map(_ -> m)
      }
      // keyed by the larger end: ns are u's smaller neighbors
      val next = byNode(large) { (ord, u, ns) =>
        val m = ns.min(ord)
        changed.add(ns.length - 1)
        Iterator(u -> m) ++ ns.iterator.filter(_ != m).map(_ -> m)
      }
      if (reliable) {
        next.persist(StorageLevel.MEMORY_AND_DISK)
        next.checkpoint()
      } else next.localCheckpoint()
      next.count()
      // a reliably checkpointed round can drop its cached copy once the
      // next exists; local checkpoint blocks are the lineage itself and
      // are freed when unreachable
      if (reliable) edges.unpersist(blocking = false)
      edges = next
      pending = changed.value
      rounds += 1
    }
    if (pending > 0)
      org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup").warn(
        s"connectedComponents stopped at maxIters: rounds = $rounds, edge changes pending = " +
          s"$pending; labels are over-segmented")
    // a self-link per node: every node, singletons and minima included,
    // gets the least of itself and its (smaller) links
    val self = tuples(ids.select(col("n_id"), col("n_id")))
    val labels = byNode(edges.union(self))((ord, v, ms) => Iterator(v -> ms.min(ord)))
      .mapPartitions { it =>
        val toScala = CatalystTypeConverters.createToScalaConverter(idType)
        it.map { case (v, m) => Row(toScala(v), toScala(m)) }
      }
    spark.createDataFrame(labels, StructType(Seq(
      StructField("doc_id", idType), StructField("cluster_id", idType))))
  }
}
