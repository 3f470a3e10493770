package graft.scaleops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard (north-star additions, BASELINE.json).
  *
  * Scale design: every variant is shuffle-bounded by the *candidate*
  * set, never the O(n²) pair space — LSH band buckets (MinHash),
  * 16-bit chunk buckets (SimHash). At 100 TB, bucket skew is the
  * risk; `maxBucketSize` drops pathological buckets (documented
  * recall trade, logged by callers).
  */
object Dedup {

  /** Exact-duplicate stats over a key expression (one groupBy). */
  def exactStats(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(col("c")).as("n_rows"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("n_redundant"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"))

  /** Normalization for "near-exact" dedup: lowercase + collapsed
    * whitespace. */
  def normalizedText(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Word k-shingles (distinct) of a text column — the native
    * single-eval-per-row expression (see WordShingles for why the
    * composed built-in form is ~100× slower). Texts shorter than k
    * tokens yield an empty set. */
  def shingles(text: Column, k: Int): Column =
    graft.functions.WordShingles(text, k)

  /** The composed-built-in formulation, kept as the semantic spec the
    * native expression is tested against. */
  def shinglesComposed(text: Column, k: Int): Column = {
    val toks = split(trim(text), "\\s+")
    val n = size(toks)
    array_distinct(
      when(n >= k,
        transform(sequence(lit(0), n - k),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
        .otherwise(array().cast("array<string>")))
  }

  private val P = 2147483647L // 2^31 − 1; products stay < 2^62 (ANSI-safe)

  /** Universal-hash family over a base xxhash64: h_i(x) = (a_i·x + b_i) mod P.
    * Seeds are fixed so results are deterministic across runs/partitions. */
  private def hashParams(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((1 + rnd.nextLong(P - 1), rnd.nextLong(P)))
  }

  /** MinHash signatures: one row per doc, `numHashes` min-hash values.
    * Single pass: explode distinct shingles, one groupBy(doc) with
    * `numHashes` min-aggregates (map-side combinable — the shuffle
    * carries only signatures, not shingles). */
  def minHashSignatures(docs: DataFrame, idCol: String, text: Column,
                        shingleK: Int = 3, numHashes: Int = 64): DataFrame = {
    val base = docs
      .select(col(idCol), explode(shingles(text, shingleK)).as("sh"))
      .withColumn("h", pmod(xxhash64(col("sh")), lit(P)))
    val aggs = hashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"mh$i")
    }
    base.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: rows of (idCol, band, band_hash). bandsR rows per
    * band are hashed together; numHashes/bandR bands. r=2 keeps
    * recall ≈ 1 down to Jaccard ≈ 0.5 with 32 bands
    * ((1−s²)³² < 1e-6 at s = 0.6). */
  def lshBands(signatures: DataFrame, idCol: String, bandR: Int = 2): DataFrame = {
    val mhCols = signatures.columns.filter(_.startsWith("mh"))
    val bands = mhCols.grouped(bandR).zipWithIndex.map { case (group, i) =>
      struct(lit(i).as("band"),
        xxhash64(concat_ws(",", group.toIndexedSeq.map(col): _*)).as("band_hash"))
    }.toSeq
    signatures
      .select(col(idCol), explode(array(bands: _*)).as("b"))
      .select(col(idCol), col("b.band"), col("b.band_hash"))
  }

  /** Candidate pairs (a < b) from shared LSH buckets; oversized
    * buckets (degenerate content) are dropped to bound the join. */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucketSize: Int = 1000): DataFrame = {
    val sized = bands.withColumn("bucket_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("band", "band_hash")))
      .filter(col("bucket_n") <= maxBucketSize)
    val l = sized.select(col("band"), col("band_hash"), col(idCol).as("a"))
    val r = sized.select(col("band"), col("band_hash"), col(idCol).as("b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Full MinHash-LSH near-dup pipeline with an *exact* n-gram
    * Jaccard verification of every candidate — output contains no
    * LSH approximation (LSH only bounds the candidate set; at r=2 /
    * 32 bands the miss probability at `minJaccard` ≥ 0.6 is < 1e-6,
    * which is what lets a brute-force oracle hash-match it). */
  def minHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, minJaccard: Double = 0.6): DataFrame = {
    val sigs = minHashSignatures(docs, idCol, col(textCol), shingleK)
    val cands = candidatePairs(lshBands(sigs, idCol), idCol)
    // shingle arrays feed BOTH verification joins — materialize once
    val sh = docs.select(col(idCol), shingles(col(textCol), shingleK).as("sh"))
    cands
      .join(sh.select(col(idCol).as("a"), col("sh").as("sh_a")), "a")
      .join(sh.select(col(idCol).as("b"), col("sh").as("sh_b")), "b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs ≥ minJaccard — no LSH, no
    * approximation — scaled with the prefix-filtering principle
    * (AllPairs / PPJoin): order every doc's shingle set by one global
    * rarity order (document frequency asc, shingle asc as the
    * tiebreak); any pair with Jaccard ≥ t shares a shingle inside
    * both docs' first |X| − ⌈t·|X|⌉ + 1 shingles, so only those
    * prefixes feed the candidate join. Stop-shingles ("of the" — huge
    * df, end of the order) never generate their quadratic postings
    * (the naive inverted-index join was ~20× slower at sf0.1 for
    * exactly that reason). Candidates are verified on the full sets,
    * so the output is identical to the all-pairs scan the oracle
    * runs.
    */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 2, minJaccard: Double = 0.5): DataFrame =
    jaccardPairsCore(
      docs.select(col(idCol), col(textCol), lit(true).as("is_new")),
      idCol, textCol, shingleK, minJaccard, incremental = false)

  /** Directional containment (near-subset) pairs: C = |A∩B| / min(|A|,
    * |B|) ≥ t — the signal Jaccard misses when a short document is
    * quoted inside a long one (J collapses with the size gap, C does
    * not). Same machinery as [[exactJaccardPairs]]: shingles travel
    * as sorted xxhash64 arrays, candidates come from an inverted
    * index, verification is the codegen sorted-merge intersect.
    *
    * Candidate completeness: order each doc's shingles by global
    * rarity and keep a prefix of |S| − ⌈t·|S|⌉ + 1; for any pair with
    * C ≥ t the SMALLER side must hit the index with ≥ 1 prefix
    * shingle (else common ≤ ⌈t|A|⌉ − 1 < t·|A|), and the smaller side
    * is always present on the prefix side of the join. The −0.5 ceil
    * slack keeps the float product from rounding the prefix a slot
    * too short (longer = safe, shorter = can miss). The containing
    * side indexes ALL its postings — at corpus scale that side would
    * carry the contamination screen's maxDf hot-shingle guard; the
    * exact operator keeps every posting so the output is exactly the
    * all-pairs truth the oracle computes. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 2,
                       minContainment: Double = 0.9): DataFrame = {
    val sh = docs.select(col(idCol),
      sort_array(transform(shingles(col(textCol), shingleK),
        x => xxhash64(x))).as("hs"))
      .withColumn("sz", size(col("hs")))
      .filter(col("sz") > 0)
      .localCheckpoint(eager = false)
    val inv = sh.select(col(idCol), col("sz"), explode(col("hs")).as("h"))
    val dfreq = inv.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("df").asc, col("h").asc)
    // widen (r15): the rarity window's own exchange AQE-coalesces to
    // 1-2 partitions at ~MB posting sizes, and the candidate join +
    // verify fan-out above it then runs 2 tasks (measured 2.8 s of
    // this row) — explicit-count repartition on the window key pins
    // full width at no extra exchange (it REPLACES the window's)
    val prefix = graft.Sessions.widen(inv.join(dfreq, Seq("h")), col(idCol))
      .withColumn("rnk", row_number().over(byRarity))
      .filter(col("rnk") <=
        col("sz") - ceil(col("sz") * lit(minContainment) - lit(0.5)) + 1)
    // Size-ordered probe (r15, measured: posting-join fan-out 7.9M →
    // 4.1M at sf0.1): the completeness lemma above only needs the
    // SMALLER side's prefix to hit the index, so a match whose prefix
    // side is the larger doc is redundant — the same pair is always
    // regenerated with the smaller doc probing. Ties broken by id so
    // equal-size pairs survive exactly once pre-distinct. Candidate
    // set shrinks ~12% too; verification below is unchanged, so the
    // output is provably identical (the DedupSpec naive-scan
    // equalities and the oracle pin it).
    val cands = prefix.select(col("h"), col(idCol).as("ida"),
        col("sz").as("psz"))
      .join(inv.select(col("h"), col(idCol).as("idb"), col("sz").as("isz")),
        Seq("h"))
      .filter(col("psz") < col("isz") ||
        (col("psz") === col("isz") && col("ida") < col("idb")))
      .select(least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"))
      .distinct()
    cands
      .join(sh.select(col(idCol).as("a"), col("hs").as("hs_a"),
        col("sz").as("sz_a")), "a")
      .join(sh.select(col(idCol).as("b"), col("hs").as("hs_b"),
        col("sz").as("sz_b")), "b")
      .withColumn("common", graft.functions.SortedIntersectCount(
        col("hs_a"), col("hs_b")))
      .withColumn("containment", round(col("common").cast("double") /
        least(col("sz_a"), col("sz_b")), 6))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")), 6))
      .filter(col("containment") >= minContainment)
      .select(col("a"), col("b"), col("containment"), col("jaccard"))
  }

  /** One pipeline serves [[exactJaccardPairs]] (every doc flagged
    * new, ordered a<b join) and [[exactJaccardPairsIncremental]]
    * (only batch docs on the LEFT posting side) — the prefix/PPJoin
    * filters exist once, so a bound fix can never diverge the two
    * outputs. */
  private def jaccardPairsCore(docs: DataFrame, idCol: String,
                               textCol: String, shingleK: Int,
                               minJaccard: Double,
                               incremental: Boolean): DataFrame = {
    // Shingles travel as xxhash64 longs, never strings: the set of
    // hashes is in 1-1 correspondence with the shingle set (a 64-bit
    // collision within one corpus' vocabulary is ~2⁻⁶⁴·|V|² — far
    // below the float-rounding noise floor), and 8-byte join keys cut
    // the shuffled bytes several-fold.
    // Materialized once (lazy local checkpoint): the shingle arrays
    // feed the inverted index AND both verification joins — without
    // pinning, the per-doc tokenize+hash+sort runs up to 4×.
    val sh = docs.select(col(idCol), col("is_new"),
      sort_array(transform(shingles(col(textCol), shingleK),
        x => xxhash64(x))).as("hs"))
      .withColumn("sz", size(col("hs")))
      .localCheckpoint(eager = false)
    val inv = sh.select(col(idCol), col("is_new"), col("sz"),
      explode(col("hs")).as("h"))
    val dfreq = inv.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("df").asc, col("h").asc)
    // widen — see containmentPairs (r15): pins the candidate join's
    // width; replaces the window's own exchange, adds none
    val prefix = graft.Sessions.widen(inv.join(dfreq, Seq("h")), col(idCol))
      .withColumn("rnk", row_number().over(byRarity))
      .filter(col("rnk") <=
        col("sz") - ceil(col("sz") * lit(minJaccard)) + 1)
      .localCheckpoint(eager = false) // consumed by both join sides
    // PPJoin-style pruning on each matched posting, both safe under
    // float rounding (0.5 slack; sizes are integers, true bounds are
    // rational, float error ≪ 0.5 — a qualifying pair can never be
    // pruned, verification stays the only arbiter):
    //  - length filter: J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|);
    //  - positional filter: at the pair's FIRST shared shingle
    //    (global order ⇒ it is inside both prefixes), the remaining
    //    suffixes bound |A∩B| by min(szA−i, szB−j)+1, which must
    //    reach the overlap bound t/(1+t)·(szA+szB).
    val alpha = minJaccard / (1 + minJaccard)
    // Incremental: the LEFT side is batch-only postings BEFORE the
    // join, so old×old posting pairs never materialize — candidate
    // fan-out scales with the batch's prefix lists, not the corpus's.
    // Every filter below is symmetric in (a, b), so normalizing the
    // unordered (new, any) pairs afterward with least/greatest yields
    // exactly the ordered-join output restricted to batch-touching
    // pairs (new×new pairs arrive twice and dedup in the distinct).
    val lSide = if (incremental) prefix.filter(col("is_new")) else prefix
    val l = lSide.select(col("h"), col(idCol).as("ida"),
      col("rnk").as("rnk_a"), col("sz").as("sz_a"))
    // PPJoin index prefix (r15, measured: posting-join fan-out 6.0M →
    // 4.2M at sf0.1 with the candidate set bit-identical): when the
    // probe side is constrained to the (size, id)-lexicographically
    // LARGER record, the index side only needs its first
    // |y| − ⌈2t/(1+t)·|y|⌉ + 1 rarity-ordered shingles (Xiao et al.,
    // PPJoin): J ≥ t ⇒ overlap ≥ t/(1+t)·(|x|+|y|) ≥ 2t/(1+t)·|y|
    // for |x| ≥ |y|, so the pair's FIRST shared shingle sits within
    // that shorter prefix on y (and within the probing prefix on x —
    // same argument as the probe bound, using |y| ≥ t·|x|). The −0.5
    // ceil slack keeps float rounding from shortening the prefix (a
    // slot long = safe). Incremental keeps symmetric probe prefixes:
    // its left side is batch-restricted, which is incompatible with
    // also requiring the left side to be the larger record.
    val rSide =
      if (incremental) prefix
      else prefix.filter(col("rnk") <= col("sz") -
        ceil(col("sz") * lit(2 * minJaccard / (1 + minJaccard)) - lit(0.5))
        + 1)
    val r = rSide.select(col("h"), col(idCol).as("idb"),
      col("rnk").as("rnk_b"), col("sz").as("sz_b"))
    val joined = l.join(r, Seq("h"))
    val oriented =
      if (incremental) joined.filter(col("ida") =!= col("idb"))
      else joined.filter(col("sz_b") < col("sz_a") ||
        (col("sz_b") === col("sz_a") && col("idb") < col("ida")))
    // length filter: with the size-ordered orientation sz_b ≤ sz_a,
    // only the sz_b ≥ t·sz_a direction can prune; the incremental
    // (unordered) branch needs both.
    val lengthOk =
      if (incremental)
        col("sz_b") >= col("sz_a") * lit(minJaccard) - lit(0.5) &&
          col("sz_a") >= col("sz_b") * lit(minJaccard) - lit(0.5)
      else col("sz_b") >= col("sz_a") * lit(minJaccard) - lit(0.5)
    val cands = oriented
      .filter(lengthOk)
      .filter(least(col("sz_a") - col("rnk_a"), col("sz_b") - col("rnk_b"))
        + lit(1) >= (col("sz_a") + col("sz_b")) * lit(alpha) - lit(0.5))
      .select(least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"))
      .distinct()
    cands
      .join(sh.select(col(idCol).as("a"), col("hs").as("hs_a"),
        col("sz").as("sz_a")), "a")
      .join(sh.select(col(idCol).as("b"), col("hs").as("hs_b"),
        col("sz").as("sz_b")), "b")
      .withColumn("common", graft.functions.SortedIntersectCount(
        col("hs_a"), col("hs_b")))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Incremental near-dup detection — the production dedup mode at
    * corpus scale: a new batch arrives and only pairs TOUCHING the
    * batch matter (old×old was settled by previous runs). Shares the
    * full inverted-index + PPJoin machinery with
    * [[exactJaccardPairs]] (one [[jaccardPairsCore]]); the LEFT side
    * of the candidate join is restricted to BATCH postings BEFORE
    * the join, so old×old posting pairs never materialize and
    * candidate fan-out scales with the batch's prefix lists, not the
    * corpus's. (At 100 TB the corpus-side prefix index would persist
    * between runs — the shape here rebuilds it, the filters and
    * output contract are the production ones.)
    * Output = the full-corpus pair set restricted to pairs with at
    * least one batch doc: new×old AND new×new (a fresh batch must
    * dedup within itself too); an id appearing on both sides takes
    * the batch version. DedupSpec pins the restriction equality. */
  def exactJaccardPairsIncremental(corpus: DataFrame, batch: DataFrame,
                                   idCol: String, textCol: String,
                                   shingleK: Int = 2,
                                   minJaccard: Double = 0.5): DataFrame = {
    // A re-ingested id present on both sides would double its rows
    // (corrupting prefix ranks and duplicating output pairs): the
    // batch version wins, the stale corpus row drops here.
    val cleanCorpus = corpus.join(batch.select(col(idCol)), Seq(idCol),
      "left_anti")
    jaccardPairsCore(
      cleanCorpus.select(col(idCol), col(textCol), lit(false).as("is_new"))
        .unionByName(batch
          .select(col(idCol), col(textCol), lit(true).as("is_new"))),
      idCol, textCol, shingleK, minJaccard, incremental = true)
  }

  /** SimHash (64-bit) of a text column (named column, SQL-expression
    * form — `shiftright` with a non-literal shift only exists in SQL):
    * per-token 64-bit hashes vote ±1 on each bit position; the sign
    * of each bit's total forms the signature. One pure map, no
    * shuffle. */
  def simHash(textCol: String): Column = expr(
    s"""aggregate(
       |  zip_with(
       |    aggregate(
       |      transform(split(trim($textCol), '\\\\s+'), t -> xxhash64(t)),
       |      array_repeat(0, 64),
       |      (acc, h) -> zip_with(acc, sequence(0, 63),
       |        (v, i) -> v + IF(((h >> i) & 1L) = 1L, 1, -1))),
       |    sequence(0, 63),
       |    (v, i) -> IF(v > 0, shiftleft(1L, i), 0L)),
       |  0L, (acc, b) -> acc | b)""".stripMargin)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Codegen-friendly SimHash: explode tokens, one groupBy with 64
    * conditional-sum vote aggregates, reassemble the signature from
    * the vote signs. Produces bit-identical signatures to the
    * expression-fold `simHash` (votes are order-independent) but runs
    * in WholeStageCodegen instead of interpreted higher-order lambdas
    * — the difference is ~10× on wide corpora. */
  def simHashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0L, 1).otherwise(-1)).as(s"b$i"))
    toks.groupBy(idCol).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("sig"))
  }

  /** SimHash near-dup pairs with hamming ≤ maxDist (≤ 3 guaranteed
    * found: pigeonhole over four 16-bit chunks — any pair within 3
    * differing bits shares at least one intact chunk bucket). */
  def simHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3): DataFrame =
    simHashNearDupsFromSigs(simHashSignatures(docs, idCol, textCol),
      idCol, maxDist)

  /** Same, over precomputed signatures — lets a caller share one
    * signature pass between this and other consumers (e.g. the
    * certification query's brute-force twin). */
  def simHashNearDupsFromSigs(sigs: DataFrame, idCol: String,
                              maxDist: Int = 3): DataFrame = {
    val chunks = sigs.select(col(idCol), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("chunk"),
          shiftright(col("sig"), i * 16).bitwiseAND(0xFFFFL).as("chunk_val"))): _*))
        .as("c"))
      .select(col(idCol), col("sig"), col("c.chunk"), col("c.chunk_val"))
    val l = chunks.select(col("chunk"), col("chunk_val"),
      col(idCol).as("a"), col("sig").as("sig_a"))
    val r = chunks.select(col("chunk"), col("chunk_val"),
      col(idCol).as("b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), hamming(col("sig_a"), col("sig_b")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }
}
