package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.index.Embed

/** Large-scale deduplication operators (prompt: training-data pipeline
  * family; generalizes the reference's content-hash dedup, SURVEY.md §2.3 J2).
  *
  * Scale design: every variant is blocking-based — candidates are generated
  * by equi-joins on a short key (hash / band / bucket), never by a cross
  * join, so the shuffle volume is O(N) + O(candidate pairs). All hashes are
  * built from `md5` so the same signatures are computable by any engine
  * (and by the DuckDB oracle).
  */
object Dedup {

  /** Whitespace-normalized content hash — THE exact-dedup key, shared by
    * `exact` and `dedupAgainstCorpus` (and mirrored in every oracle as
    * md5(lower(regexp_replace(text, '\s+', ' ', 'g')))). */
  def contentHash(content: Column): Column =
    md5(lower(regexp_replace(content, "\\s+", " ")))

  /** Exact dedup: group by normalized-content hash, keep the first row per
    * group in (tieBreak) order — deterministic first-wins. */
  def exact(df: DataFrame, content: Column, tieBreak: Column): DataFrame = {
    val withHash = df.withColumn("_h", contentHash(content))
    val w = Window.partitionBy(col("_h")).orderBy(tieBreak)
    withHash.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_h", "_rn")
  }

  /** Word w-shingles of a text (distinct, whitespace-tokenized, lowercase).
    * Native one-pass expression (`functions.WordShinglesExpr`); the
    * tokenize stays a HOF (split+filter), the shingle build and distinct
    * run compiled. Fewer than w tokens yield the space-joined token list
    * as the single shingle (the previous zip-shift fallback). */
  def wordShingles(text: Column, w: Int): Column = {
    val toks = filter(split(lower(text), "\\s+"), t => t =!= "")
    graft.functions.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    call_function("word_shingles", toks, lit(w))
  }

  /** Character n-grams of a text (distinct, first-occurrence order).
    * Native one-pass expression (`functions.CharNgramsExpr`) — the HOF
    * zip-shift form ran interpreted array passes per document, and a
    * per-position `substring(text, i, n)` would be quadratic on
    * UTF8String (each call scans for the char offset). */
  def charNgrams(text: Column, n: Int): Column = {
    graft.functions.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    call_function("char_ngrams", text, lit(n))
  }

  /** md5 per shingle — materialize this as its own column (one pass) and
    * feed it to `minHashSignature`; inlining it there would recompute the
    * digests once per permutation. */
  def shingleHashes(shingles: Column): Column = transform(shingles, s => md5(s))

  /** MinHash signature from pre-computed shingle digests: permutation i is
    * the lexicographic order of the hex string rotated by r(i) characters —
    * one digest per shingle total. Engine-portable semantics (md5 +
    * substring only, mirrored by the oracle SQL), executed as the native
    * one-pass `minhash_mins` expression (`functions.MinHashMinsExpr`) —
    * the HOF form runs one interpreted transform+array_min per
    * permutation. */
  def rotationOffset(i: Int): Int = (i * 7) % 31 + 1

  def minHashSignature(hashes: Column, numHashes: Int): Column = {
    graft.functions.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    call_function("minhash_mins", hashes, lit(numHashes))
  }

  /** LSH band keys: split the signature into bands of `rowsPerBand`, hash
    * each band — docs sharing any band key are candidate pairs. */
  def lshBandKeys(signature: Column, numHashes: Int, rowsPerBand: Int): Column = {
    val bands = numHashes / rowsPerBand
    array((0 until bands).map { b =>
      concat(lit(s"$b:"), md5(concat_ws("|", slice(signature, b * rowsPerBand + 1, rowsPerBand))))
    }: _*)
  }

  /** MinHash+LSH candidate pairs: explode band keys, self-join per band on
    * (band, id) ONLY, dedup candidate pairs, then join the shingle sets
    * back for exact-Jaccard verification. Two-pass shape: the wide shingle
    * arrays never ride the band shuffle — at scale the band join moves
    * O(N·bands) short rows and only candidates (typically ≪ N) pay the
    * array transfer. Returns (id_a, id_b, jaccard) with jaccard ≥ threshold. */
  def minHashDuplicates(df: DataFrame, idCol: String, text: Column,
                        shingleWidth: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
                        threshold: Double = 0.7): DataFrame =
    minHashDuplicatesFrom(
      df.select(col(idCol).as("id"), wordShingles(text, shingleWidth).as("sh")),
      numHashes, rowsPerBand, threshold)

  /** [[minHashDuplicates]] over a pre-shingled `(id, sh)` frame — lets a
    * caller that ALSO runs an exact pass over the same shingles (d16's
    * recall audit) share ONE tokenize+shingle scan between both sides
    * instead of re-deriving it per operator. */
  def minHashDuplicatesFrom(shingled: DataFrame, numHashes: Int = 12, rowsPerBand: Int = 3,
                            threshold: Double = 0.7): DataFrame = {
    // localCheckpoint (not cache): the signature computation feeds both
    // join sides and the verification re-fetch, so it must materialize
    // once — but a .cache() registers in the CacheManager and pins
    // corpus-sized shingle arrays for the whole session across repeated
    // calls (d2/d7/c1 each build one); checkpointed blocks are released
    // when the frame is garbage-collected. Shingles and digests are
    // separate projections so each is evaluated once.
    val base = shingled
      .withColumn("hs", shingleHashes(col("sh")))
      .withColumn("sig", minHashSignature(col("hs"), numHashes))
      .drop("hs")
      .localCheckpoint()
    val bands = base.select(col("id"),
      explode(lshBandKeys(col("sig"), numHashes, rowsPerBand)).as("band"))
    val candidates = bands.select(col("band"), col("id").as("id_a"))
      .join(bands.select(col("band"), col("id").as("id_b")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    candidates
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
         size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SKEW-ROBUST LSH dedup: bucket-REPRESENTATIVE assignment instead of
    * pair enumeration. Real crawls are Zipfian — one host or one
    * boilerplate template can put 10⁴+ near-identical docs into the same
    * LSH buckets, and any pair-emitting chain (d2's included) then
    * materializes O(cluster²) candidates from those buckets. This
    * operator never enumerates pairs: each band bucket reduces to its
    * MINIMUM id in one map-side-combinable aggregate (a 10⁴-doc bucket
    * costs a combiner min, not 10⁸ pair rows), each doc takes the
    * smallest representative over its buckets, and exactly ONE verify
    * join per doc computes true Jaccard against that representative.
    * Per-doc work is O(bands), output is O(N) — cluster-size-independent,
    * the shape that survives the skew drill.
    *
    * Semantics: one-hop first-wins — rep_id is the smallest SAME-BUCKET
    * doc id (strictly smaller than the doc's own), `is_dup` gates on
    * exact Jaccard ≥ threshold vs that rep. A rep may itself be a dup of
    * an earlier rep; transitive closure stays [[connectedComponents]]'s
    * job (documented trade: this pass is the bounded streaming-friendly
    * one). Docs that are their buckets' minima everywhere keep
    * rep_id = null, is_dup = false — they are the retained survivors. */
  def bucketRepDedup(df: DataFrame, idCol: String, text: Column,
                     shingleWidth: Int = 3, numHashes: Int = 6, rowsPerBand: Int = 2,
                     threshold: Double = 0.7): DataFrame = {
    val base = df.select(col(idCol).as("id"), wordShingles(text, shingleWidth).as("sh"))
      .withColumn("hs", shingleHashes(col("sh")))
      .withColumn("sig", minHashSignature(col("hs"), numHashes))
      .drop("hs")
      .localCheckpoint() // bands + both verify joins branch from here
    val bands = base.select(col("id"),
      explode(lshBandKeys(col("sig"), numHashes, rowsPerBand)).as("band"))
    val reps = bands.groupBy("band").agg(min(col("id")).as("rep"))
    val cand = bands.join(reps, Seq("band"))
      .filter(col("id") =!= col("rep"))
      .groupBy("id").agg(min(col("rep")).as("rep_id"))
    val verified = cand
      .join(base.select(col("id"), col("sh").as("sh_a")), Seq("id"))
      .join(base.select(col("id").as("rep_id"), col("sh").as("sh_b")), Seq("rep_id"))
      .select(col("id"), col("rep_id"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jacc"))
    base.select(col("id")).join(verified, Seq("id"), "left")
      .select(col("id"), col("rep_id"), col("jacc"),
        when(col("jacc") >= threshold, true).otherwise(false).as("is_dup"))
  }

  /** SimHash fingerprint over tokens, engine-portable: bit j of the
    * fingerprint is the sign of sum over tokens of (+1 if the j-th hex char
    * of md5(token) is ≥ '8' else -1). Returns a `bits`-char 0/1 string
    * (bits ≤ 32, the md5 hex length). */
  def simHash(text: Column, bits: Int = 16): Column = {
    val toks = filter(split(lower(text), "\\s+"), t => t =!= "")
    val hashes = transform(toks, t => md5(t))
    // one compiled pass over the digests (`functions.SimHashBitsExpr`) —
    // the HOF form zip_withs a bits-wide counter array per token,
    // interpreted; md5 still runs once per token either way
    graft.functions.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    call_function("simhash_bits", hashes, lit(bits))
  }

  /** SimHash near-dup pairs by pigeonhole blocking (Manku et al., the
    * Google web-dedup construction): Hamming distance ≤ `maxHamming`
    * over a `bits`-bit signature implies at least one of
    * `maxHamming + 1` equal signature quarters, so candidates are an
    * equi-join on (quarter index, quarter value) — never all pairs — and
    * only candidates pay the exact Hamming check.
    *
    * The signature votes over word-SHINGLE hashes, not unigram tokens:
    * unigram votes converge to the corpus-wide token distribution, so on
    * any topically-uniform corpus every signature clusters near one value
    * and both blocks and the true pair set explode (measured: 411k
    * "pairs" at sf0.1 — a dense relation, not dedup). Shingles are
    * document-specific, which is why Manku's construction uses them.
    * 32 bits (8-bit quarters) is the ceiling of THIS construction — the
    * md5-hex vote yields at most 32 signature bits, so wider signatures
    * (the 64-bit/16-bit-quarter production sizing) need a second hash
    * rotation first; the require below fails fast instead of silently
    * degenerating the upper quarters into all-'0' universal block keys.
    * NULL text signs as empty text (the oracle's convention), so NULL
    * and '' documents pair together rather than silently vanishing. */
  def simHashDuplicates(df: DataFrame, idCol: Column, text: Column,
                        shingleWidth: Int = 3, bits: Int = 32,
                        maxHamming: Int = 3): DataFrame = {
    val quarters = maxHamming + 1
    val qw = bits / quarters
    require(bits >= quarters && bits <= 32,
      s"bits must be in [$quarters, 32] (md5 hex yields 32 vote positions; " +
        s"also keeps conv+xor inside a long), got $bits")
    graft.functions.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    val sig = call_function("simhash_bits",
      shingleHashes(wordShingles(coalesce(text, lit("")), shingleWidth)), lit(bits))
    // localCheckpoint: the signature pipeline (tokenize → shingle → md5 per
    // shingle → vote) feeds BOTH self-join sides — same hazard
    // minHashDuplicates documents; without it the corpus-wide scan runs twice
    val sigs = df.select(idCol.as("id"), sig.as("sig")).localCheckpoint()
    val blocked = sigs.select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(quarters - 1))).as("q"))
      .select(col("id"), col("sig"),
        concat_ws(":", col("q"), col("sig").substr(col("q") * qw + 1, lit(qw))).as("blk"))
    val cand = blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.id").as("id_b"), col("b.sig").as("sig_b"))
      .distinct()
    // per-candidate Hamming as codegen'd integer ops (parse the 0/1 string
    // base-2, xor, popcount) — the per-position HOF compare ran interpreted
    // over every candidate pair; bits ≤ 32 so the long can't overflow
    val hamming = bit_count(conv(col("sig_a"), 2, 10).cast("long")
      .bitwiseXOR(conv(col("sig_b"), 2, 10).cast("long")))
    cand.withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** 64-bit SimHash near-dup pairs — the Manku PRODUCTION sizing
    * (64-bit fingerprints, maxHamming 3 → four 16-bit quarter blocks),
    * which [[simHashDuplicates]]'s hex-char voting cannot reach. Votes
    * come from digest BITS (`simhash_bits64`: hex char j/4, bit 3-(j%4)),
    * so one md5 per shingle still supplies all 64 positions — no second
    * hash pass. Same two-pass blocking shape as the 32-bit form; the
    * exact Hamming check runs as two codegen'd 32-bit conv/xor/popcount
    * halves because a 64-one signature would overflow a signed-long
    * conv. 16-bit quarters give 65,536 block values, so block sizes stay
    * bounded at corpus scale (the 8-bit quarters of the 32-bit form
    * yield only 256 — fine for a gate corpus, skew-prone at 100 TB). */
  def simHash64Duplicates(df: DataFrame, idCol: Column, text: Column,
                          shingleWidth: Int = 3, bits: Int = 64,
                          maxHamming: Int = 3): DataFrame = {
    val quarters = maxHamming + 1
    val qw = bits / quarters
    require(bits > 32 && bits <= 64 && bits % quarters == 0,
      s"the wide variant covers (32, 64] with equal quarters " +
        s"(use simHashDuplicates at or below 32 bits), got bits=$bits maxHamming=$maxHamming")
    graft.functions.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    val sig = call_function("simhash_bits64",
      shingleHashes(wordShingles(coalesce(text, lit("")), shingleWidth)), lit(bits))
    val sigs = df.select(idCol.as("id"), sig.as("sig")).localCheckpoint()
    val blocked = sigs.select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(quarters - 1))).as("q"))
      .select(col("id"), col("sig"),
        concat_ws(":", col("q"), col("sig").substr(col("q") * qw + 1, lit(qw))).as("blk"))
    val cand = blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.id").as("id_b"), col("b.sig").as("sig_b"))
      .distinct()
    val hi = bit_count(conv(col("sig_a").substr(1, 32), 2, 10).cast("long")
      .bitwiseXOR(conv(col("sig_b").substr(1, 32), 2, 10).cast("long")))
    val lo = bit_count(conv(col("sig_a").substr(33, bits - 32), 2, 10).cast("long")
      .bitwiseXOR(conv(col("sig_b").substr(33, bits - 32), 2, 10).cast("long")))
    cand.withColumn("hamming", (hi + lo).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact all-pairs Jaccard join via prefix filtering (PPJoin family —
    * Chaudhuri/Ganti/Kaushik's SSJoin prefix filter; Xiao et al. 2008):
    * two sets with Jaccard ≥ t MUST share at least one element among the
    * first `s − ceil(t·s) + 1` of their elements under ANY common total
    * order — so ordering every doc's shingles rarest-document-frequency-
    * first and equi-joining only on those prefix elements yields exact
    * results (zero false negatives, unlike MinHash banding) while the
    * join key space shrinks to the rare tail of the vocabulary.
    *
    * Scale shape: one shingle aggregate for document frequencies, one
    * gram-keyed join to attach them, a per-doc sort of its OWN shingles
    * (sort_array inside the row — no window), then the prefix equi-join +
    * exact verify on the candidate pairs only. The ordering key is the
    * string `lpad(df) + U+0001 + gram` so both engines sort identically with
    * plain binary string order. Verify filters on the UNROUNDED ratio
    * (boundary-exact rationals) and emits it 6-dp-rounded. */
  /** Asymmetric CONTAINMENT near-dup pairs — max(|A∩B|/|A|, |A∩B|/|B|)
    * ≥ threshold over the w-shingle sets. Jaccard misses the
    * quote/subset case entirely (a doc fully contained in one 10× its
    * size has Jaccard ≤ 0.1); containment is the dedup signal for
    * boilerplate reposts, quoted articles, and prefix-truncated mirrors.
    * Candidate blocking is PROBE × INDEX on the d13 (df, gram) global
    * order: each doc probes with only its `probeK` globally-rarest
    * shingles, against an index of every (gram, doc) occurrence with
    * df ≤ indexDfCap. Recall contract: a strictly contained doc's
    * rarest shingle is BY DEFINITION also in its container, so a strict
    * containment is guaranteed found WHEN the contained doc's rarest
    * probeK shingles have df ≤ indexDfCap — in a corpus so heavily
    * clustered that even a doc's rarest shingle exceeds the cap, the
    * pair is traded away, exactly like an LSH band miss (partial ≥ t
    * containments additionally escape if all probeK rarest shingles
    * fall in the uncovered < 1−t tail — the trade d16 audits for
    * Jaccard; raise indexDfCap to buy recall back). Fan-out per gram is
    * DETERMINISTICALLY bounded: probe grams with df > indexDfCap are
    * dropped before the join (they cannot match the df-capped index —
    * identical semantics, smaller shuffle), and each gram keeps only its
    * `probeCap` lowest-id probers, so one gram emits ≤ probeCap ×
    * indexDfCap candidate rows no matter how clustered the corpus — the
    * same recall-for-boundedness trade as the index cap, on the probe
    * side (a cluster larger than probeCap sharing one rarest gram loses
    * the pairs among its highest ids for that gram; they stay findable
    * via their other probeK−1 grams). Naive rare×rare blocking measured
    * 9.7 s on clustered dup corpora (every shared rare gram emits
    * cluster² pairs); this shape is ≈2.5 s on the same fixture. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       w: Int, probeK: Int, indexDfCap: Int, threshold: Double,
                       probeCap: Int = 64): DataFrame = {
    val g = df.select(col(idCol).as("id"), wordShingles(col(textCol), w).as("grams"))
      .localCheckpoint() // shared by the blocking explode AND both verify joins
    val ex = g.select(col("id"), explode(col("grams")).as("gram"))
    val freq = ex.groupBy("gram").agg(count(lit(1)).as("df"))
    val keyed = ex.join(freq, "gram")
      .select(col("id"), col("df"),
        concat(lpad(col("df").cast("string"), 10, "0"), lit("\u0001"), col("gram")).as("k"))
    val probes = keyed.groupBy("id")
      .agg(slice(sort_array(collect_list(col("k"))), 1, probeK).as("ks"))
      .select(col("id"), explode(col("ks")).as("k"))
      .filter(substring(col("k"), 1, 10).cast("long") <= indexDfCap)
      .select(col("id"), substring(col("k"), 12, 1000000).as("gram"))
    // per-gram prober cap: the collect_list is bounded by indexDfCap rows
    // per gram (a gram's probers are a subset of the docs containing it,
    // and df > indexDfCap grams were filtered above) — never skew-unsafe
    val probesCapped = probes.groupBy("gram")
      .agg(slice(sort_array(collect_list(col("id"))), 1, probeCap).as("pids"))
      .select(col("gram"), explode(col("pids")).as("pid"))
    val index = keyed.filter(col("df") <= indexDfCap)
      .select(col("id"), substring(col("k"), 12, 1000000).as("gram"))
    val cand = probesCapped
      .join(index.select(col("gram"), col("id").as("iid")), "gram")
      .filter(col("pid") =!= col("iid"))
      .select(least(col("pid"), col("iid")).as("id_a"),
        greatest(col("pid"), col("iid")).as("id_b"))
      .distinct()
    // intersect size bound to an attribute ONCE — the filter and all three
    // output columns reference it; letting the Column DSL re-inline the
    // array_intersect per use is the HOF-re-inlining trap on the verify path
    val verged = cand
      .join(g.select(col("id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(g.select(col("id").as("id_b"), col("grams").as("gb")), "id_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
    val ca = col("inter").cast("double") / size(col("ga")).cast("double")
    val cb = col("inter").cast("double") / size(col("gb")).cast("double")
    verged.filter(greatest(ca, cb) >= threshold)
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("n_shared"),
        round(ca, 6).as("cont_a_in_b"), round(cb, 6).as("cont_b_in_a"))
  }

  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         w: Int, threshold: Double): DataFrame =
    prefixJaccardPairsFrom(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), w).as("grams"))
        .localCheckpoint(), "grams", threshold)

  /** [[prefixJaccardPairs]] over a pre-shingled `(id, <gramsCol>)` frame
    * that MUST already be materialized (localCheckpoint-ed): it feeds
    * both self-join sides and the final verify, so an unmaterialized
    * frame recomputes its corpus scan once per consumer. `gramsCol`
    * names the shingle-array column explicitly (asserted present) so a
    * caller sharing one scan between operators (d16's recall audit)
    * never relies on an ad-hoc rename to satisfy an implicit column
    * contract. */
  def prefixJaccardPairsFrom(gMaterialized: DataFrame, gramsCol: String,
                             threshold: Double): DataFrame = {
    require(gMaterialized.columns.contains(gramsCol) && gMaterialized.columns.contains("id"),
      s"prefixJaccardPairsFrom needs columns (id, $gramsCol); got " +
        gMaterialized.columns.mkString("(", ", ", ")"))
    val g = gMaterialized.select(col("id"), col(gramsCol).as("grams"))
    val ex = g.select(col("id"), explode(col("grams")).as("gram"))
    val freq = ex.groupBy("gram").agg(count(lit(1)).as("df"))
    val keyed = ex.join(freq, "gram")
      .select(col("id"),
        concat(lpad(col("df").cast("string"), 10, "0"), lit("\u0001"), col("gram")).as("k"))
    // localCheckpoint: `pe` feeds BOTH sides of the self-join below — without
    // materialization each side replays the explode→freq→join→sort chain
    // (exchange reuse does not cover the post-aggregate projection), which
    // measured as the bulk of the round-6 12 s driver outlier. The frame is
    // one row per (doc, prefix element) — (1−t)·|grams| of the corpus, the
    // small end of the DAG.
    val pe = keyed.groupBy("id")
      .agg(sort_array(collect_list(col("k"))).as("ks"))
      .select(col("id"), size(col("ks")).as("s"), slice(col("ks"), lit(1),
        (size(col("ks")) - ceil(size(col("ks")).cast("double") * lit(threshold)) + 1).cast("int")).as("prefix"))
      .select(col("id"), col("s"),
        posexplode(col("prefix")).as(Seq("p0", "k")))
      .localCheckpoint()
    // size filter (SSJoin): Jaccard >= t forces t·|A| <= |B| <= |A|/t, so
    // mismatched-size pairs never reach the array verify — lossless by the
    // bound, and it cut the candidate set ~2x on the wide size spread of
    // real corpora (measured sf0.1)
    val sized = pe.select(col("k"), col("id").as("id_a"), col("s").as("sa"), (col("p0") + 1).as("pa"))
      .join(pe.select(col("k"), col("id").as("id_b"), col("s").as("sb"), (col("p0") + 1).as("pb")), "k")
      .filter(col("id_a") < col("id_b") &&
        col("sb").cast("double") >= lit(threshold) * col("sa").cast("double") &&
        col("sa").cast("double") >= lit(threshold) * col("sb").cast("double"))
    // positional filter (PPJoin proper, Xiao et al. 2008 §3.2): let x be the
    // FIRST common element of A and B in the global order — x must be a
    // prefix-join match (any common y < x would sit in both prefixes too,
    // since sorted position only shrinks), so min(struct(k,pa,pb)) finds it.
    // No common element precedes x, hence overlap <= 1 + min(|A|-pa, |B|-pb);
    // Jaccard >= t needs overlap >= t/(1+t)·(|A|+|B|). The 1e-9 slack keeps
    // the float comparison lossless (it can only ADMIT extra candidates, and
    // the exact verify below kills those).
    val cand = sized
      .groupBy(col("id_a"), col("id_b"), col("sa"), col("sb"))
      .agg(min(struct(col("k"), col("pa"), col("pb"))).as("m"))
      .filter((lit(1) + least(col("sa") - col("m.pa"), col("sb") - col("m.pb"))).cast("double") + lit(1e-9) >=
        lit(threshold / (1.0 + threshold)) * (col("sa") + col("sb")).cast("double"))
      .select("id_a", "id_b")
    val jac = size(array_intersect(col("ga"), col("gb"))).cast("double") /
      size(array_union(col("ga"), col("gb"))).cast("double")
    cand
      .join(g.select(col("id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(g.select(col("id").as("id_b"), col("grams").as("gb")), "id_b")
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
  }

  /** Benchmark decontamination (GPT-3 appendix-C style): flag training
    * documents sharing any word n-gram with an evaluation set.
    *
    * Returns (id, n_shared) for contaminated training docs only — n_shared
    * counts the doc's DISTINCT n-grams that appear anywhere in the eval
    * set. The eval gram set is broadcast: benchmark suites are tiny
    * relative to a pre-training corpus (MBs vs TBs), so the training side —
    * the 100 TB side — is never shuffled; the whole check is one map-side
    * semi-join at scan bandwidth. If an eval set ever outgrew broadcast,
    * drop the hint and let AQE pick a shuffle join — semantics unchanged.
    *
    * `n` is a parameter (the canonical 13 assumes natural prose; shorter
    * grams suit short/synthetic documents). */
  def decontaminate(train: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) =
      df.select(col(idCol).as("id"), explode(wordShingles(col(textCol), n)).as("g"))
    val evalGrams = grams(evalSet).select("g").distinct()
    grams(train)
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      // wordShingles is distinct per doc, so a plain count is the number
      // of distinct contaminated grams
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Contamination FRACTION per training doc — the graded form of
    * [[decontaminate]] (PaLM/Llama-style decontamination drops docs whose
    * overlap share exceeds a threshold rather than any-hit): for every
    * training doc, the share of its distinct n-grams that appear in the
    * eval set. Same broadcast-eval-grams shape — the 100 TB training side
    * never shuffles for the check; the per-doc denominator rides along
    * from the shingle array already in hand. Returns every training doc
    * (zero-overlap docs included) as (id, n_grams, n_shared, frac). */
  def contaminationFraction(train: DataFrame, evalSet: DataFrame, idCol: String,
                            textCol: String, n: Int): DataFrame = {
    val trainGrams = train.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh"))
    val evalGrams = evalSet.select(explode(wordShingles(col(textCol), n)).as("g")).distinct()
    val shared = trainGrams.select(col("id"), explode(col("sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    trainGrams.select(col("id"), size(col("sh")).cast("long").as("n_grams"))
      .join(shared, Seq("id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      // wordShingles yields ≥ 1 gram for any doc (short docs collapse to
      // one whole-text gram), so the division is total
      .withColumn("frac",
        round(col("n_shared").cast("double") / col("n_grams").cast("double"), 6))
  }

  /** Bloom-prefiltered decontamination — [[decontaminate]]'s scale path
    * for when the eval-gram set is too large to broadcast comfortably:
    * the corpus gram stream is first cut down by a `might_contain` test
    * against a Bloom filter of the eval grams (map-only, at scan
    * bandwidth — the filter is a bounded bitmap, `numBits`), and only the
    * bloom-POSITIVE grams reach the exact semi-join. False positives are
    * removed by the exact join and false negatives are impossible, so the
    * result is bit-identical to [[decontaminate]] — same oracle — while
    * the exact join's probe side shrinks from every corpus gram to the
    * (true hits + ε·false positives). The bitmap itself is the only
    * driver traffic: a filter STATISTIC of fixed size (numBits/8 bytes),
    * not data rows — the same compromise Spark's own runtime bloom join
    * makes when it ships the filter between stages. */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame, idCol: String,
                         textCol: String, n: Int,
                         estimatedItems: Long = 100000L,
                         numBits: Long = 1L << 23): DataFrame = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    def grams(df: DataFrame) =
      df.select(col(idCol).as("id"), explode(wordShingles(col(textCol), n)).as("g"))
    // checkpoint: feeds BOTH the bloom build and the verify semi-join —
    // without it the eval scan + shingle explode runs twice
    val evalGrams = grams(evalSet).select("g").distinct().localCheckpoint()
    val bf = evalGrams
      .select(call_function("bloom_filter_agg", xxhash64(col("g")),
        lit(estimatedItems), lit(numBits)).as("bf"))
      .head.getAs[Array[Byte]](0)
    // NO broadcast hint on the verify join — this path exists precisely
    // for eval sets too big to broadcast, so the join strategy is left to
    // AQE: with the bloom prefilter the probe side is already tiny, and a
    // shuffled semi-join of survivors is the intended fallback when the
    // eval-gram set itself cannot ship to every executor
    grams(train)
      .filter(call_function("might_contain", lit(bf), xxhash64(col("g"))))
      .join(evalGrams, Seq("g"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Incremental dedup — the production update path: dedup a NEW batch
    * against an EXISTING corpus without re-deduping the corpus. Returns
    * the batch rows that are neither exact copies (same normalized-content
    * hash) nor near-duplicates (shared LSH band + verified Jaccard ≥
    * threshold) of any corpus document; batch-internal duplicates are NOT
    * removed here (run `exact`/`minHashDuplicates` on the batch for that).
    *
    * Scale shape: both checks are equi-joins keyed on hash/band — the
    * corpus side ships only (key) resp. (band, shingles-on-candidates);
    * in production the corpus hashes and band keys are precomputed and
    * stored (the same bucketed layout `io.Bundle.writeBucketedTable`
    * provides), so each increment pays O(batch) + the candidate joins,
    * never O(corpus). */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
                         shingleWidth: Int = 3, numHashes: Int = 6, rowsPerBand: Int = 2,
                         threshold: Double = 0.8): DataFrame = {
    // ONE checkpointed base per side carrying hash + shingles + signature
    // from a single scan; each base feeds its band build and the candidate
    // shingle re-fetch (and cBase additionally the exact-hash side). This
    // replaced a three-barrier chain (exactSurvivors + both bases) whose
    // serialized materializations doubled d8's wall-clock round-over-round;
    // two independent barriers is the minimum — each base genuinely feeds
    // two different exchanges of the final plan.
    def base(df: DataFrame) = df
      .select(col(idCol).as("id"), contentHash(col(textCol)).as("_h"),
        wordShingles(col(textCol), shingleWidth).as("sh"))
      .withColumn("sig", minHashSignature(shingleHashes(col("sh")), numHashes))
      .localCheckpoint()
    val bBase = base(batch)
    val cBase = base(corpus)
    // two-pass band join, same shape as minHashDuplicates: only (id, band)
    // rides the band shuffle; shingle arrays are fetched back for the
    // candidate ids alone — never replicated per band across the corpus.
    // Banding the FULL batch (not just exact survivors) is result-identical:
    // any extra near-dup id it surfaces is an exact copy that the hash
    // anti-join below drops anyway.
    def bandsOf(b: DataFrame, id: String) = b.select(col("id").as(id),
      explode(lshBandKeys(col("sig"), numHashes, rowsPerBand)).as("band"))
    val candidates = bandsOf(bBase, "id").join(bandsOf(cBase, "id_c"), Seq("band"))
      .select("id", "id_c").distinct()
    val nearDupIds = candidates
      .join(bBase.select(col("id"), col("sh")), Seq("id"))
      .join(cBase.select(col("id").as("id_c"), col("sh").as("sh_c")), Seq("id_c"))
      .filter(size(array_intersect(col("sh"), col("sh_c"))).cast("double") /
        size(array_union(col("sh"), col("sh_c"))) >= threshold)
      .select("id").distinct()
    batch
      .join(cBase.select(col("_h")).distinct(),
        contentHash(batch(textCol)) === col("_h"), "left_anti")
      .join(nearDupIds, batch(idCol) === nearDupIds("id"), "left_anti")
  }

  /** Connected components over an undirected edge list (a, b) — the
    * cluster step that turns pairwise near-duplicates into dedup groups
    * (keep one doc per component). Returns (id, cluster_id) for every
    * vertex, cluster_id = min id in the component.
    *
    * Min-label propagation: each round every vertex takes the min of its
    * own label and its neighbors'; converged when no label changed. Rounds
    * needed = graph diameter, and near-dup graphs are shallow (clusters of
    * copies, not long chains), so this is a handful of self-join rounds
    * even at 100 TB. Each round is one shuffle join on the edge list;
    * `localCheckpoint` truncates the growing lineage so round N's plan
    * doesn't replay rounds 1..N-1. The per-round `count` is a scalar
    * aggregate (no data to the driver). */
  def connectedComponents(edges: DataFrame, srcCol: String = "id_a", dstCol: String = "id_b",
                          maxIterations: Int = 25): DataFrame = {
    val sym = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .union(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .distinct()
      .localCheckpoint()
    // seed with round 1 for free: min(own id, min neighbor) needs only the
    // groupBy that vertex-set extraction would cost anyway
    var labels = sym.groupBy(col("u"))
      .agg(least(col("u"), min("v")).as("lbl"))
      .select(col("u").as("id"), col("lbl")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIterations) {
      val neighborMin = sym.join(labels.select(col("id").as("v"), col("lbl")), "v")
        .groupBy(col("u").as("id")).agg(min("lbl").as("_nbr"))
      // carry the previous label through the checkpoint so the convergence
      // count is a filter on materialized data, not another shuffle join
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("_nbr"), col("lbl"))).as("lbl"),
          col("lbl").as("_old"))
        .localCheckpoint()
      changed = next.filter(col("lbl") < col("_old")).count()
      labels = next.select("id", "lbl")
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIterations rounds")
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }
}
