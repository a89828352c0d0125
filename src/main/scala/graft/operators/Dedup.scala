package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Deduplication operators over `documents` — the four standard
  * large-corpus techniques, each expressed as a declarative Spark plan:
  *
  *  - exact:        hash-groupBy on a normalized-content fingerprint
  *  - n-gram Jaccard: shingle-inverted-index join (candidates share a
  *                  shingle) → exact set Jaccard on candidates only
  *  - MinHash+LSH:  signature → bands → bucket-join candidates → exact
  *                  Jaccard verify (the 100 TB path: candidate count is
  *                  ~linear, never O(n²))
  *  - SimHash:      64→60-bit signatures, banded hamming join
  *
  * All hashing is md5-derived ([[graft.functions.TextFunctions.hash60]])
  * so the DuckDB oracle replays identical bits.
  */
object Dedup {
  private val K = 5 // shingle width (tokens)

  // once-per-JVM guard for the bloomOf cap warning (keyed by wanted
  // bit count — one line per distinct corpus size, not per call)
  private val bloomCapWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Corpus row count for df-cap sizing WITHOUT a count job wherever
    * the plan's metadata already states it: a graft-array scan answers
    * from its fragment manifests (exact — SupportsReportStatistics
    * territory), a parquet scan from its file footers (exact, read on
    * the driver, zero Spark jobs). At 100 TB the old
    * `dd.count()`-derived cap was an avoidable extra full corpus pass
    * per dedup query. Falls back to `count()` only for frames whose
    * cardinality metadata cannot state (filters, joins, checkpointed
    * or in-memory frames); cardinality-preserving Project/alias nodes
    * unwrap. Footer reading is capped at 256 files — past that the
    * input should be an array table, whose manifests answer in O(1).
    *
    * For a graft-array input the manifest sum is an UPPER bound when
    * latest-wins shadows upserted rows — fine for the cap/sizing
    * callers (dfCap, bloomOf), wrong for a PUBLISHED value. Callers
    * that publish the count (t21's idf N) pass `exact = true`: the
    * manifest answer is then used only when shadowing is provably
    * impossible (dups allowed or pairwise-disjoint fragments — the
    * scan's own mergeFree criterion), falling back to `count()`
    * otherwise. Parquet footers are exact either way. */
  private[graft] def corpusRows(df: DataFrame,
      exact: Boolean = false): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    def walk(p: LogicalPlan): Option[Long] = p match {
      case SubqueryAlias(_, c) => walk(c)
      case Project(_, c) => walk(c)
      case r: DataSourceV2Relation => r.table match {
        case t: graft.sources.v2.GraftTable =>
          if (exact) t.manifestRowsExact else Some(t.manifestRowSum)
        case _ => None
      }
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          val files = fs.location.inputFiles
          if (files.length > 256) None
          else {
            val conf = df.sparkSession.sessionState.newHadoopConf()
            Some(files.map(f => graft.core.ParquetStats.rowCount(
              new org.apache.hadoop.fs.Path(f), conf)).sum)
          }
        case _ => None
      }
      case _ => None
    }
    walk(df.queryExecution.analyzed).getOrElse(df.count())
  }

  /** The shared 1%-of-corpus (min 50) document-frequency cap. */
  private def dfCap(dd: DataFrame): Long =
    math.max(50L, corpusRows(dd) / 100)

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** Distributed Bloom filter over `keyed`'s `key` column. Sizing is
    * ~16 bits/key (k = 4 → fpr ≈ (1−e^(−1/4))⁴ ≈ 0.2% — valid BELOW
    * the cap) from metadata cardinality ([[corpusRows]] — no count
    * job), next power of two, capped at 2²² bits (512 KiB of words):
    * past the cap a deployment shards the filter by key range rather
    * than growing one literal. Beyond ~260k keys the saturated filter
    * stays CORRECT (positives are always verified downstream) but the
    * admission tier degrades toward passing everything to the verify
    * join — the cap hit is logged so the degradation is visible, never
    * silent. The BUILD is a plain aggregation — k hash positions per
    * key, bit-words via `bit_or`, so at most m/64 rows reach the
    * driver regardless of corpus size. The returned probe closure
    * tests all k positions against the word array carried as a literal
    * (whole-stage codegen; no UDF). Guarantees: no false negatives
    * (every inserted key probes positive — asserted in DedupSpec),
    * false positives bounded by the sizing above while under the
    * cap. */
  private[graft] def bloomOf(s: SparkSession, keyed: DataFrame, key: Column,
      sizeFrom: DataFrame): (Array[Long], Column => Column) = {
    val k = 4
    val want = math.max(1L << 14, 16L * math.max(1L, corpusRows(sizeFrom)))
    val m = math.min(1L << 22, java.lang.Long.highestOneBit(want * 2 - 1))
    if (want > (1L << 22) && bloomCapWarned.add(want))
      // visible-degradation contract (see docstring): fpr leaves the
      // ~0.2% design point once the corpus outgrows the capped filter.
      // Logged once per JVM per wanted size — the two-pass bench would
      // otherwise repeat it 4× per affected query — and `want` derives
      // from corpusRows, an UPPER bound for graft-array inputs
      // (shadowed rows counted), so the real corpus may still be under
      // the cap.
      System.err.println(s"[graft] bloomOf: wanted $want bits > 2^22 cap " +
        s"(corpus count is an upper bound for array inputs) — fpr may " +
        s"exceed the 0.2% design point; shard the filter by key range " +
        s"at this corpus size")
    def pos(i: Int)(c: Column): Column = pmod(xxhash64(lit(i), c), lit(m))
    val words = keyed
      .select(explode(array((0 until k).map(i => pos(i)(key)): _*)).as("p"))
      .select(expr("int(p div 64)").as("w"),
        expr("shiftleft(1L, int(p % 64))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
      .collect() // ≤ m/64 rows — bounded by the FILTER size, not the corpus
    val bits = new Array[Long](((m + 63) / 64).toInt)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    val blit = typedLit(bits.toSeq)
    val hits = (c: Column) => (0 until k).map { i =>
      val p = pos(i)(c)
      element_at(blit, floor(p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int")))
        .=!=(lit(0L))
    }.reduce(_ && _)
    (bits, hits)
  }

  /** (doc_id, shingle-hash) inverted index, distinct per doc. Shingles
    * are xxhash64'd before the join — an 8-byte shuffle key instead of
    * a ~30-byte string (collision odds over the corpus ≈ n²/2⁶⁴,
    * irrelevant at any scale we'd shuffle through one join). */
  private[graft] def shingleIndexOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), explode(shingles(col("text"), K)).as("sh0"))
      .select(col("doc_id"), xxhash64(col("sh0")).as("sh"))

  /** Candidate pairs (i<j) sharing ≥1 shingle. `dfCap` drops
    * "stopword" shingles whose document frequency exceeds the cap from
    * candidate generation ONLY: a shingle shared by m documents emits
    * m² candidate pairs, so one boilerplate header/footer shingle on a
    * repetitive corpus makes a single join key quadratic (the round-2
    * scale hazard). The cap bounds per-key join work at ~cap² while
    * verification (below) still scores any surfaced pair on the FULL
    * shingle sets — a pair is missed only if it shares NOTHING but
    * capped boilerplate, which at Jaccard ≥ 0.5 cannot happen unless
    * boilerplate IS most of both documents. */
  private[graft] def candidatePairs(docsDf: DataFrame,
      dfCap: Option[Long]): DataFrame = {
    val idx = shingleIndexOf(docsDf)
    val candIdx = dfCap match {
      case Some(cap) =>
        // hot set is tiny by construction (≤ total-occurrences / cap
        // keys) → broadcast anti-join, no extra shuffle of the index
        val hot = idx.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("sh")
        idx.join(broadcast(hot), Seq("sh"), "left_anti")
      case None => idx
    }
    candIdx.as("a").join(candIdx.as("b"), "sh")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** Exact-Jaccard pairs (i<j): capped candidate generation, then the
    * exact set Jaccard over full shingle sets on candidates only. */
  private[graft] def jaccardPairsOn(docsDf: DataFrame, threshold: Double,
      dfCap: Option[Long]): DataFrame = {
    // shingle sets are referenced twice by the verify joins —
    // materialize once instead of re-tokenizing the corpus per side
    val sets = docsDf.select(col("doc_id"), shingles(col("text"), K).as("sh"))
      .localCheckpoint()
    candidatePairs(docsDf, dfCap)
      .join(sets.select(col("doc_id").as("i"), col("sh").as("sa")), "i")
      .join(sets.select(col("doc_id").as("j"), col("sh").as("sb")), "j")
      // |A∪B| = |A|+|B|−|A∩B| on distinct sets — one fused kernel pass
      // per pair instead of interpreted array_intersect + array_union
      // (identical division operands → identical 6dp jac)
      .withColumn("shared",
        graft.functions.expressions.Kernels
          .sharedCount(col("sa"), col("sb")))
      .withColumn("jac",
        col("shared").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("shared")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jac"))
      .orderBy("i", "j")
  }

  /** Directional shingle-containment pairs: containment(A in B) =
    * |A∩B| / |A| over distinct 5-token shingle sets. Catches the
    * subset-duplicate SYMMETRIC Jaccard misses by construction: a
    * 100-shingle doc verbatim inside a 10,000-shingle doc has
    * containment 1.0 but Jaccard ≈ 0.01 — the quote/boilerplate/
    * excerpt case every web corpus carries. Candidates come from the
    * same df-capped inverted index as d2 (a contained doc shares EVERY
    * shingle with its container, so any non-capped shingle surfaces
    * the pair — miss condition identical to d2's accounting), then the
    * exact intersect over full sets scores BOTH directions of each
    * surfaced unordered pair. */
  private[graft] def containmentPairs(docsDf: DataFrame, threshold: Double,
      dfCap: Option[Long]): DataFrame = {
    val sets = docsDf
      .select(col("doc_id"), shingles(col("text"), K).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    val scored = candidatePairs(docsDf, dfCap)
      .join(sets.select(col("doc_id").as("i"), col("sh").as("sa")), "i")
      .join(sets.select(col("doc_id").as("j"), col("sh").as("sb")), "j")
      .withColumn("shared",
        graft.functions.expressions.Kernels
          .sharedCount(col("sa"), col("sb")))
      .select(col("i"), col("j"), col("shared"),
        size(col("sa")).cast("long").as("ni"),
        size(col("sb")).cast("long").as("nj"))
    val fwd = scored.select(col("i").as("contained_id"),
      col("j").as("container_id"), col("shared"),
      (col("shared").cast("double") / col("ni")).as("containment"))
    val rev = scored.select(col("j").as("contained_id"),
      col("i").as("container_id"), col("shared"),
      (col("shared").cast("double") / col("nj")).as("containment"))
    fwd.unionByName(rev)
      .filter(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"), col("shared"),
        round(col("containment"), 6).as("containment"))
      .orderBy("contained_id", "container_id")
  }

  /** Corpus-wide exact duplicated-substring coverage, >= SubstrTokens
    * tokens (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better" — ExactSubstr): per document, the token
    * positions covered by some substring of >= 50 tokens that occurs
    * VERBATIM at least twice in the corpus (other docs or the same
    * doc). This pays the debt d6's pair surface stood in for ("the
    * scalable stand-in for suffix-array exact-substring dedup").
    *
    * The suffix-array-free equivalence that makes it one aggregation
    * instead of a distributed suffix array: a duplicated substring of
    * length >= 50 exists iff a duplicated 50-token WINDOW exists, and
    * the union of duplicated 50-windows covers exactly the token
    * positions of all maximal duplicated substrings >= 50 — so
    * stride-1 window hashes (the "anchor hash" bucketing) + a
    * count>=2 group-by decide everything. Scale shape: the window
    * table is one row per corpus token (the same volume Lee et al.'s
    * suffix array indexes), the duplicate decision is a linear
    * hash aggregation — never an all-pairs join, and NO df cap is
    * needed because hot boilerplate windows aggregate instead of
    * joining quadratically (better than d6's capped-recall contract).
    * Per-doc state is the sorted duplicated-start list, bounded by
    * doc length; interval union folds in one pass over it. */
  private[graft] val SubstrTokens = 50
  private[graft] def substringDedup(docsDf: DataFrame): DataFrame = {
    val L = SubstrTokens
    // tokens referenced by the window build AND the per-doc stats —
    // materialize once (the x13 lesson)
    val toks = docsDf
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .localCheckpoint()
    // TIER 1 — rolling prefilter: one cheap 64-bit key per window
    // position ([[RollingWindowKeys]]: one xxh64 per TOKEN + O(1) per
    // window), keys computed inside the array context so the
    // generate-output rows are 16 bytes wide. Identical windows get
    // identical keys by construction, so a key seen once corpus-wide
    // proves its window unique — and on a mostly-clean corpus that
    // eliminates ~all positions before any md5 is computed (the md5
    // tier previously hashed ~50× the corpus bytes).
    val rk = toks
      .filter(col("n") >= L)
      .select(col("doc_id"),
        posexplode(graft.functions.expressions.Kernels
          .rollingWindowKeys(col("toks"), L)).as(Seq("pos", "rk")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("rk"))
    val hotKeys = rk.groupBy("rk").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("rk")
    // candidate positions: windows whose rolling key collides. The
    // join is UNHINTED — the hot-key side is near-empty on clean
    // corpora (AQE broadcasts it) but corpus-sized on a degenerate
    // all-duplicate corpus (AQE shuffles it).
    val cand = rk.join(hotKeys, "rk").select("doc_id", "pos")
    // TIER 2 — exact md5 verify on candidates only: candidates group
    // per doc FIRST, so the checkpointed token array joins into ONE
    // row per candidate-bearing doc (joining per-position would carry
    // the whole array in every candidate row — O(doc²) bytes on an
    // adversarial all-duplicate corpus where every position is a
    // candidate); the window md5s then compute inside the array
    // context and explode as 32-byte rows. Requiring the EXACT window
    // to occur >= 2 times kills tier-1's 64-bit collisions, so the
    // published result is bit-identical to the single-tier md5
    // pipeline and to the DuckDB oracle.
    val wins = cand.groupBy("doc_id")
      .agg(collect_list(col("pos")).as("ps"))
      .join(toks.select(col("doc_id"), col("toks")), "doc_id")
      .select(col("doc_id"), explode(transform(col("ps"),
        p => struct(p.as("pos"),
          md5(array_join(
            slice(col("toks"), (p + 1).cast("int"), lit(L)), " "))
            .as("wh")))).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.wh").as("wh"))
      // referenced by dup AND perDoc — materialize so the md5 work
      // runs once (the x13 rule); candidate-sized, tiny on clean
      // corpora. Tier-1's rk is ALSO read twice but deliberately NOT
      // checkpointed: it is corpus-token-sized and its recompute (one
      // codegen kernel pass over the already-checkpointed toks) is
      // cheaper than materializing a row per corpus token.
      .localCheckpoint()
    val dup = wins.groupBy("wh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("wh")
    // per-doc duplicated starts, sorted; interval union via a single
    // integer fold: each start adds min(gap to previous, L) new
    // covered positions (first start's "gap" is saturated by the
    // sentinel previous = -L)
    val perDoc = wins.join(dup, "wh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ss"),
        count(lit(1)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_dup_windows"),
        aggregate(col("ss"),
          struct(lit(-L.toLong).as("prev"), lit(0L).as("acc")),
          (st, p) => struct(p.as("prev"),
            (st.getField("acc") + least(p - st.getField("prev"),
              lit(L.toLong))).as("acc")),
          st => st.getField("acc")).as("dup_cover"))
    toks.select(col("doc_id"), col("n").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_cover"), lit(0L)).as("dup_cover"))
      .orderBy("doc_id")
  }

  /** Long-span duplicate pairs (i<j, shared distinct-window count):
    * window fingerprints via the shingle kernel at `SpanLen` tokens,
    * xxhash64'd to 8-byte join keys, df-capped inverted-index join
    * (one viral boilerplate span cannot go quadratic — same hazard and
    * same fix as d2), then the exact shared-window count over FULL
    * window sets for every surfaced pair. Verbatim-overlap recall is
    * exact up to the cap: a pair is missed only if every shared window
    * is capped boilerplate. */
  private[graft] val SpanLen = 32
  private[graft] def spanDupPairs(docsDf: DataFrame,
      dfCap: Option[Long]): DataFrame = {
    val sets = docsDf.select(col("doc_id"),
      shingles(col("text"), SpanLen).as("w")).localCheckpoint()
    val idx = sets.select(col("doc_id"), explode(col("w")).as("w0"))
      .select(col("doc_id"), xxhash64(col("w0")).as("wh"))
    val candIdx = dfCap match {
      case Some(cap) =>
        val hot = idx.groupBy("wh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("wh")
        idx.join(broadcast(hot), Seq("wh"), "left_anti")
      case None => idx
    }
    val cands = candIdx.as("a").join(candIdx.as("b"), "wh")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("i"), col("w").as("wa")), "i")
      .join(sets.select(col("doc_id").as("j"), col("w").as("wb")), "j")
      .select(col("i"), col("j"),
        graft.functions.expressions.Kernels
          .sharedCount(col("wa"), col("wb")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .orderBy("i", "j")
  }

  /** Winnowing-based near-dup pairs (i<j, shared fingerprint count):
    * the t17 fingerprints (rightmost-min windows over positional
    * 5-gram hash60s, w=8) as the inverted-index key. The winnowing
    * guarantee upgrades d6's fixed-stride recall: ANY shared run of
    * ≥ w+k−1 = 12 tokens yields a common fingerprint, at ~2/(w+1) of
    * the index volume a full positional index would cost. Same
    * df-cap-then-join shape as d2/d6 (a viral boilerplate fingerprint
    * cannot go quadratic); ≥ 2 shared fingerprints cuts incidental
    * single-window collisions. Fully DuckDB-replayable (hash60). */
  private[graft] def winnowDupPairs(docsDf: DataFrame,
      dfCap: Option[Long]): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val fps = docsDf.filter(size(toks) >= 5)
      .select(col("doc_id"),
        graft.functions.expressions.Kernels.winnowText(toks, 5, 8)
          .as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("u"))
      // a doc can select the same hash at several positions
      .select(col("doc_id"), col("u.h").as("fp")).distinct()
      .localCheckpoint()
    val candIdx = dfCap match {
      case Some(cap) =>
        val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("fp")
        fps.join(broadcast(hot), Seq("fp"), "left_anti")
      case None => fps
    }
    candIdx.as("a").join(candIdx.as("b"), "fp")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("i", "j")
  }

  /** Distinct character k-grams of a string — the tokenizer-free
    * shingle for scripts with no word boundaries (CJK, Thai) where
    * d2's whitespace 5-token shingles degenerate to whole-line
    * tokens. One codegen kernel pass ([[graft.functions.expressions
    * .CharGramsExpr]]): the declarative HOF twin evaluated an
    * interpreted lambda whose substr re-scans the string per position
    * — O(n_chars²) per document, 11.6 s of d9's 18 s at sf0.1. */
  private[graft] def charShingles(s0: Column, k: Int): Column =
    graft.functions.expressions.Kernels.charGrams(s0, k)

  /** Char-5-gram Jaccard near-dup pairs (i<j, jac ≥ threshold) — the
    * whitespace-free-script twin of d2, same capped-inverted-index →
    * exact-verify shape: candidate generation joins on xxhash64'd
    * grams with hot (df > cap) grams dropped, then the exact Jaccard
    * over FULL distinct gram sets scores candidates.
    *
    * Char grams are ~6× denser than token shingles (one per CHARACTER
    * position), and mid-frequency grams (df under any sane cap) alone
    * make the raw index self-join quadratic-ish on repetitive corpora
    * (measured 40 s at sf0.1 where d2 runs in 1.4 s). Bounds, all
    * deterministic so the exact oracle stays the referee:
    *  - LONG docs (> 128 distinct grams) enter the candidate index
    *    SAMPLED — only grams with xxhash64(g) ≡ 0 (mod 4) — cutting
    *    their self-join volume 16×; SHORT docs keep every gram (their
    *    volume is bounded by the doc itself);
    *  - a candidate pair reaches exact verification with ≥ 3 shared
    *    indexed grams, or ≥ 1 when BOTH sides are unsampled.
    * Miss accounting: a short–short pair needs only one surviving
    * shared gram — d2's structural df-cap condition, HARD. A pair
    * with a sampled side has min side > 102 grams (Jaccard ≥ 0.8
    * forces |A| ≥ 0.8|B|), so ≥ ~102 shared grams face the 1/4
    * sampling and P(< 3 survive) ≈ 10⁻¹⁰ — and the sampling is a
    * fixed function of the grams, so recall on a given corpus is a
    * constant the exact oracle verifies at every test scale. The d2
    * df cap still applies on top for viral boilerplate. */
  private[graft] def charNgramPairs(docsDf: DataFrame, threshold: Double,
      dfCap: Option[Long]): DataFrame = {
    val sets = docsDf
      .select(col("doc_id"),
        // explicit ASCII class, NOT \s: Java \s includes U+000B
        // vertical tab, RE2 (the DuckDB oracle) excludes it — the
        // unicodeNormalize convention
        charShingles(
          regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f]", ""), 5)
          .as("g"))
      .filter(size(col("g")) > 0)
      .localCheckpoint()
    val idx = sets
      .select(col("doc_id"), (size(col("g")) > 128).cast("int").as("samp"),
        explode(col("g")).as("g0"))
      .select(col("doc_id"), col("samp"), xxhash64(col("g0")).as("gh"))
      .filter(col("samp") === 0 || pmod(col("gh"), lit(4L)) === 0L)
    val candIdx = (dfCap match {
      case Some(cap) =>
        val hot = idx.groupBy("gh").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("gh")
        idx.join(broadcast(hot), Seq("gh"), "left_anti")
      case None => idx
    }).localCheckpoint() // both sides of the self-join read it
    val cands = candIdx.as("a").join(candIdx.as("b"), "gh")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("ns"),
        max(col("a.samp") + col("b.samp")).as("sampled"))
      .filter(col("ns") >= 3 || (col("sampled") === 0 && col("ns") >= 1))
      .select("i", "j")
    cands
      .join(sets.select(col("doc_id").as("i"), col("g").as("ga")), "i")
      .join(sets.select(col("doc_id").as("j"), col("g").as("gb")), "j")
      .withColumn("shared",
        graft.functions.expressions.Kernels
          .sharedCount(col("ga"), col("gb")))
      .withColumn("jac",
        col("shared").cast("double") /
          (size(col("ga")) + size(col("gb")) - col("shared")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jac"))
      .orderBy("i", "j")
  }

  /** Incremental exact dedup — the production "dedupe today's
    * increment against the historical corpus" loop: for each increment
    * row (doc_id, fp), the earliest doc_id sharing its fingerprint
    * across base ∪ increment, plus an is_dup flag. The base side is
    * semi-filtered by the increment's DISTINCT fingerprints first
    * (broadcast — a daily increment is small next to the historical
    * corpus), so at 100 TB the base is scanned once, narrowly, and
    * only fingerprint-matching rows ever reach the shuffle; the base
    * never re-shuffles wholesale for a small increment. */
  private[graft] def incrementalDedup(base: DataFrame,
      inc: DataFrame): DataFrame = {
    val incFps = inc.select("fp").distinct()
    val hit = base.join(broadcast(incFps), Seq("fp"), "left_semi")
    // history takes precedence regardless of id ordering: a base twin
    // makes the increment row a dup even when the base doc_id is the
    // LARGER one (min over the union would silently keep both copies);
    // increment-only fingerprints dedupe against their own earliest row
    val baseFirst = hit.groupBy("fp").agg(min("doc_id").as("base_of"))
    val incFirst = inc.groupBy("fp").agg(min("doc_id").as("inc_first"))
    val canon = coalesce(col("base_of"), col("inc_first"))
    inc.select("doc_id", "fp")
      .join(baseFirst, Seq("fp"), "left")
      .join(incFirst, Seq("fp"))
      .select(col("doc_id"), canon.as("dup_of"),
        (col("doc_id") =!= canon).as("is_dup"))
      .orderBy("doc_id")
  }

  /** MinHash-LSH candidate pairs verified with exact set Jaccard ≥
    * `threshold` — the shared edge generator for d3 (pair listing),
    * d5/d12 (cluster dedup), d15's near tier, and x4 (leakage-safe
    * split). Band key = 4 consecutive signature values.
    *
    * Scale shape (the [[simhashMembers]] / [[editNeardupPairs]]
    * standard): identical shingle SEQUENCES collapse to one
    * representative before the band self-join — a mega-cluster of m
    * byte-identical documents (the re-crawl-heavy web-corpus case)
    * costs one band-join row instead of m rows on each of its 16 band
    * keys (~16·m²/2 intermediate rows through single shuffle keys),
    * and its m·(m−1)/2 pairs expand OUTPUT-bound through the member
    * table at Jaccard 1 by construction — they never enter the verify
    * join. The signature pipeline also runs once per DISTINCT sequence
    * rather than per document. Hot band keys (> [[HotBandCap]]
    * distinct shingle sets) are dropped from candidate generation with
    * d4's recall accounting: a true pair is lost only when ALL 16 of
    * its agreeing bands are that hot. Below the cap the pair set is
    * provably the per-doc join's: same-sequence docs share every band
    * and verify at jac 1 ≥ threshold, and two distinct sequences share
    * a band iff their representatives do. */
  private[graft] def minhashVerifiedPairs(docsDf: DataFrame,
      threshold: Double, layout: (Int, Int) = (16, 4)): DataFrame = {
    // members feed the intra self-join and the two cross expansions;
    // materialize once — this also runs the shingle pipeline once
    val members = minhashMembers(docsDf).localCheckpoint()
    // one representative row per distinct shingle sequence; referenced
    // by the band rows and both sides of the verify join
    val reps = members.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("sh"))
      .localCheckpoint()
    val bands = minhashBandRows(reps, Some(HotBandCap), layout)
    val candG = bands.as("a").join(bands.as("b"), "band")
      .filter(col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("ga"), col("b.gid").as("gb"))
      .distinct()
    // exact verify on DISTINCT-sequence candidates only
    val verifiedG = candG
      .join(reps.select(col("gid").as("ga"), col("sh").as("sa")), "ga")
      .join(reps.select(col("gid").as("gb"), col("sh").as("sb")), "gb")
      .withColumn("shared",
        graft.functions.expressions.Kernels
          .sharedCount(col("sa"), col("sb")))
      .withColumn("jac",
        col("shared").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("shared")).cast("double"))
      .filter(col("jac") >= threshold)
      .select("ga", "gb", "jac")
    // intra-group pairs: identical shingle sequences ⇒ Jaccard exactly
    // 1.0 (= what the verify would compute) — self-join on gid is
    // output-bound and the per-key buffer spills instead of
    // materializing the group (never a collect_list mega-row)
    val intra = members.select(col("gid"), col("doc_id").as("i"))
      .join(members.select(col("gid"), col("doc_id").as("j")), "gid")
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), lit(1.0).as("jac"))
    // member expansion AFTER the verify: only true pairs inflate
    val cross = verifiedG
      .join(members.select(col("gid").as("ga"), col("doc_id").as("x")),
        "ga")
      .join(members.select(col("gid").as("gb"), col("doc_id").as("y")),
        "gb")
      .select(least(col("x"), col("y")).as("i"),
        greatest(col("x"), col("y")).as("j"), col("jac"))
    intra.unionByName(cross)
  }

  /** `(doc_id, sh, gid)` rows for [[minhashVerifiedPairs]]: the K-token
    * shingle sequence plus the identical-sequence group id (smallest
    * doc_id sharing the sequence — grouping is on the sequence's
    * 128-bit fingerprint via [[collapseIdenticalKeys]]; permuted-but-
    * equal sets still pair through the band join at verified jac 1).
    * Documents with an EMPTY shingle set are excluded: their Jaccard
    * against anything is 0/0 = NULL, which the verify filter always
    * dropped — grouping them would instead invent intra pairs the
    * contract never had. A hot cluster of m duplicate documents is m
    * fixed-width rows spread across partitions, and the group id is
    * computed with a map-side-combinable aggregation — never a single
    * window task sorting the whole cluster, never one array row
    * holding the whole group. */
  private[graft] def minhashMembers(docsDf: DataFrame): DataFrame =
    collapseIdenticalKeys(
      docsDf.select(col("doc_id"), shingles(col("text"), K).as("sh"))
        .filter(size(col("sh")) > 0),
      col("sh"), "doc_id")

  /** Identical-key collapse via a map-side-combinable aggregation:
    * every input row gains `gid`, the smallest `idCol` value among
    * rows whose `key` is EQUAL. This is the hot-cluster survival
    * primitive behind the near-dup family (minhash shingle sequences,
    * d14 edit prefixes, v5/v8 hyperplane sketches): a re-crawl
    * mega-cluster of m identical documents must collapse to ONE
    * band-join representative without any stage serializing all m
    * rows through a single core.
    *
    * Why not `min(id) over (Window.partitionBy(key))`: a window
    * partition executes on ONE task, so the mega-cluster — the exact
    * case the collapse exists for — sort-spills m full-payload rows
    * (the shingle array is both key and payload) through a single
    * core before the band join ever sees a representative; at
    * m ~ 10⁸ that one task is the wall-clock. Here instead:
    * `groupBy(fp1, fp2).agg(min(id))` — hash partial aggregation
    * reduces each mapper's contribution to ONE 24-byte row per
    * distinct key before the shuffle — and members join back by the
    * 16-byte fingerprint, a shuffled join AQE's skew handling can
    * split across tasks (a window partition cannot be split; a
    * broadcast of the gid table skips the member shuffle entirely
    * when it fits).
    *
    * Collision bound (the price of fingerprinting vs raw-key
    * grouping): two DISTINCT keys are conflated only if they collide
    * on BOTH independently-salted 64-bit XXH64 fingerprints, i.e.
    * with probability 2⁻¹²⁸ per pair; over n distinct keys the union
    * bound is n²/2¹²⁹ ≈ 1.5·10⁻¹³ at n = 10¹³ — far below any
    * cluster's hardware fault rate at the corpus sizes where n could
    * get that large.
    *
    * Deliberately NOT materialized here: the upstream pipeline
    * (shingling / prefix padding / plane hashing) is a map-only pass
    * and runs twice — once column-pruned for the gid aggregation,
    * once for the join side. Recompute-over-materialize is the
    * 100 TB-correct trade (a second embarrassingly-parallel scan
    * beats writing the full wide-payload corpus to executor disks),
    * and callers checkpoint the RESULT once, exactly as they did the
    * window's output (measured at m = 10⁶, SCALE.md "Dedup /
    * similarity": an internal checkpoint here made the pipeline 77 s
    * vs 26 s without). */
  private[graft] def collapseIdenticalKeys(df: DataFrame, key: Column,
      idCol: String): DataFrame = {
    val tagged = df
      .withColumn("_fp1", xxhash64(lit("graft_gid_a"), key))
      .withColumn("_fp2", xxhash64(lit("graft_gid_b"), key))
    val gids = tagged.groupBy(col("_fp1"), col("_fp2"))
      .agg(min(col(idCol)).as("gid"))
    // Size-gated small regime (the docstring's "when it fits", now
    // implemented — round-12 verdict #2): below the gate the tagged
    // frame is materialized ONCE (localCheckpoint — the upstream
    // shingling/prefix/plane map pass runs a single time instead of
    // once per join side) and the member join-back is a broadcast
    // hash join over those blocks, so the full-payload side is never
    // shuffled at all — not even the map-side shuffle write AQE's
    // runtime SMJ→BHJ conversion still pays before it can decide.
    // The gate reads the optimizer's INPUT size estimate (file bytes
    // at the scan, propagated through projections and checkpoints —
    // no job): distinct keys ≤ input rows, so a small input bounds
    // both the gid table and the checkpointed blocks. Above the gate
    // — the mega-cluster/corpus regime where the gid table can
    // approach corpus size and materializing the payload would write
    // the corpus to executor disks (measured at m = 10⁶, SCALE.md
    // "Dedup / similarity": 77 s with an internal checkpoint vs 26 s
    // without) — the shape
    // is unchanged: recompute-over-materialize, shuffled join, AQE
    // skew-splittable, nothing collected, nothing broadcast. Conf
    // `graft.dedup.collapseBroadcastMaxBytes` overrides (0 forces the
    // scale path; the m=10⁶ measurement in SCALE.md pinned the scale
    // shape with it).
    val gate = df.sparkSession.conf
      .getOption("graft.dedup.collapseBroadcastMaxBytes").map(_.toLong)
      .getOrElse(256L << 20)
    val small = gate > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(gate)
    if (small) {
      val t = tagged.localCheckpoint()
      val g = t.groupBy(col("_fp1"), col("_fp2"))
        .agg(min(col(idCol)).as("gid"))
      t.join(broadcast(g), Seq("_fp1", "_fp2"))
        .select(df.columns.map(col) :+ col("gid"): _*)
    } else
      tagged.join(gids, Seq("_fp1", "_fp2"))
        .select(df.columns.map(col) :+ col("gid"): _*)
  }

  /** `bands × rowsPerBand` band keys over shingle-sequence
    * REPRESENTATIVES — `(gid, band)`, hot bands (> cap distinct
    * sequences) dropped. The layout splits the 64-value signature
    * (`bands · rowsPerBand = 64`); the shipped default 16×4 is the
    * d16-justified choice and the DERIVED per-corpus layout comes
    * from [[lshLayoutOf]] (explicit option wins). Takes reps, not
    * docs: the band self-join must see one row per distinct sequence
    * (spec-asserted in DedupSpec's minhash mega-cluster test). */
  private[graft] def minhashBandRows(reps: DataFrame,
      dfCap: Option[Long], layout: (Int, Int) = (16, 4)): DataFrame = {
    val (nBands, rpb) = layout
    require(nBands * rpb == 64,
      s"minhash layout must split the 64-value signature: $layout")
    val sig = reps.select(col("gid"),
      minhashSignature(col("sh"), 64).as("sig"))
    // band key = xxhash64 over (band index, its rpb signature values) —
    // an 8-byte join key instead of the former underscore-joined string
    // (string building + a ~40-byte shuffle key per band row). Identical
    // tuples hash identically, so no pair is ever lost; two DISTINCT
    // band tuples colliding merely adds verified-away candidates (or,
    // for the hot-band count, conflates two buckets), at probability
    // ~(band rows)²/2⁶⁴ — ≈ 3·10⁻¹⁰ at sf0.1, and still < 10⁻⁴ at 10⁹
    // band rows. Candidates are always verified with exact Jaccard, so
    // the published pair set is unchanged.
    val bands0 = sig.select(col("gid"),
      explode(transform(sequence(lit(0), lit(nBands - 1)), b =>
        xxhash64((b +: (1 to rpb).map(j =>
          element_at(col("sig"), b * rpb + j))): _*))).as("band"))
    dropHotBands(bands0, dfCap)
  }

  /** The MEASURED per-corpus LSH band layout — d16's designer applied
    * as the engine default (round-12 verdict #5, mirroring the ANN
    * dial pattern): over the dataset's parked pair index, every
    * 64-splitting layout's S-curve capture mass is evaluated with the
    * exact floor-micro arithmetic d16 publishes, and the layout with
    * the LEAST mid-range leak-through among those whose WORST true
    * pair (min capture over jac ≥ 0.8 — deliberately NOT d16's
    * published mean: a mean ≥ 0.999 can hide one marginal pair a
    * narrow layout would miss, and d3's contract is per-pair) still
    * captures ≥ 0.999 wins; none qualifying → the widest. Parked next
    * to the pair index in the cross-process [[graft.core.Artifacts]]
    * store, so the one-pass design cost amortizes across processes
    * exactly like the ANN dials; d16's spec pins 16×4 as this
    * corpus's choice, which keeps every d3-family CORRECTNESS row
    * byte-identical. An explicit layout argument always wins. */
  private[graft] def lshLayoutOf(s: SparkSession, d: String): (Int, Int) = {
    // "|min_v2": the decision-rule revision is part of the signature —
    // a layout parked under the older mean-based rule must re-derive
    val dir = graft.core.Artifacts.resolveOrBuild(s, "lsh_layout", d,
      graft.Tables.fileSig(s"$d/documents.parquet") + "|min_v2") { tmp =>
      val pairs = sweepPairs(s, d)
      def powChain(x: Column, n: Int): Column =
        Iterator.fill(n)(x).reduce(_ * _)
      val scored = Seq((64, 1), (32, 2), (16, 4), (8, 8), (4, 16))
        .map { case (b, r) =>
          val p = lit(1.0) - powChain(lit(1.0) - powChain(col("jac"), r), b)
          val cm = floor(p * 1000000.0).cast("long")
          pairs.agg(
            min(when(col("jac") >= 0.8, cm)).as("mr"),
            sum(when(col("jac") < 0.8, cm)).as("sf"),
            count(when(col("jac") < 0.8, 1)).as("nf"))
            .select(lit(b).as("bands"), lit(r).as("rpb"),
              coalesce(col("mr"), lit(1000000L)).as("min_recall_micro"),
              when(col("nf") === 0, 0L)
                .otherwise(expr("sf div nf")).as("fp_micro"))
        }.reduce(_ unionByName _)
        .collect() // 5 layout rows
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      val chosen = scored.filter(_._3 >= 999000L)
        .sortBy(x => (x._4, x._2)).headOption
        .getOrElse(scored.minBy(_._2)) // widest = rpb 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "layout"),
        s"${chosen._1} ${chosen._2}\n".getBytes("UTF-8"))
    }
    val parts = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "layout")), "UTF-8").trim.split(' ')
    (parts(0).toInt, parts(1).toInt)
  }

  /** Default edge cap for the driver-side connected-components fast
    * path: a duplicate graph at or under this many (directed) edge rows
    * collects to the driver as primitive long pairs (~80 MB of
    * specialized Tuple2 objects at the default — 2²¹ × ~40 B; NOT the
    * 32 MB a flat long[] would be, the collect materializes an
    * Array[(Long, Long)]) and resolves in one union-find pass; larger
    * graphs run the distributed min-label loop. Override with the
    * session conf `graft.cc.driverEdgeCap` (0 forces the distributed
    * path). */
  private[graft] val DriverCcEdgeCapDefault = 2L << 20

  /** Connected components over an undirected edge list `(i, j)`:
    * every vertex maps to the smallest id in its component.
    *
    * Two regimes, gated on the MEASURED edge count (the duplicate
    * graph is the verified near-dup pair set — typically orders of
    * magnitude smaller than the corpus):
    *
    *  - at or under [[DriverCcEdgeCapDefault]] edge rows, the graph
    *    collects to the driver (bounded by the gate — the same
    *    discipline as the bloom bit-words and hot-band collects) and a
    *    weighted union-find with path compression labels it in one
    *    pass: the O(log diameter) join rounds below cost 3 Spark jobs
    *    EACH in scheduling latency alone, which dominated every
    *    bench-scale dedup-cluster query (measured: 1.7–2.0 s of round
    *    latency for 144–255-edge graphs whose union-find is
    *    microseconds);
    *  - above the cap, the distributed min-label propagation loop with
    *    pointer doubling — one shuffled join + aggregation per round,
    *    lineage truncated per round, O(log m) rounds — exactly as
    *    before. DedupSpec asserts both regimes produce identical
    *    labels on the same graph. */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    // materialize the edge list ONCE — without this every iteration
    // re-executes the upstream candidate+verify pipeline. The regime
    // gate's row count rides the SAME materialization job through an
    // accumulator (each partition runs exactly once in the eager
    // checkpoint), so neither regime pays a separate count() job; the
    // Row pass through createDataFrame is the rebind cost the big
    // regime already paid, now shared by both.
    val acc = spark.sparkContext.longAccumulator("graft.cc.undRows")
    val undRaw = edges
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .union(edges.select(col("j").cast("long").as("i"),
        col("i").cast("long").as("j")))
    val und = spark.createDataFrame(
      undRaw.rdd.map { r => acc.add(1L); r }, undRaw.schema)
      .localCheckpoint()
    val nUnd = acc.value.longValue
    val cap = spark.conf
      .getOption("graft.cc.driverEdgeCap").map(_.toLong)
      .getOrElse(DriverCcEdgeCapDefault)
    if (nUnd <= cap) return driverComponents(edges.sparkSession, und)
    // Size the iteration's shuffle partitions from the EDGE volume, not
    // the session default (the streaming withStatePartitions lesson):
    // the label/edge tables here are the duplicate-graph slice of the
    // corpus — usually orders of magnitude smaller than the corpus
    // itself — and each of the O(log m) rounds pays per-partition
    // scheduling on every join/agg. ~500k edges per partition keeps a
    // round's tasks meaningful; the cap at the session default means a
    // 100 TB dup graph still spreads across the full cluster. Measured
    // at sf0.1 (144 edges): 2.8 s → 1.3 s for the same fixpoint.
    //
    // The sized partition count lives in a PRIVATE child session
    // (`newSession()`: own SQLConf/catalog over the shared context) —
    // mutating `spark.sql.shuffle.partitions` on the caller's session
    // would leak the tiny count into any concurrent query on the same
    // session (round-6 verdict #4). The checkpointed edge RDD rebinds
    // to the child session (and the labels back to the caller's) via
    // createDataFrame — a linear pass over graph-sized tables.
    val sized = math.max(1L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toLong,
      nUnd / 500000L + 1L))
    val work = spark.newSession()
    work.conf.set("spark.sql.shuffle.partitions", sized.toString)
    // checkpoint the REBOUND frame too: without it every fixpoint
    // round re-runs the Row↔InternalRow conversion over the edge list
    val labels = connectedComponentsLoop(
      work.createDataFrame(und.rdd, und.schema).localCheckpoint())
    spark.createDataFrame(labels.localCheckpoint().rdd, labels.schema)
  }

  private def connectedComponentsLoop(und: DataFrame): DataFrame = {
    val verts = und.select(col("i").as("id")).distinct()
    var labels = verts.withColumn("lbl", col("id")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val neighborMin = und
        .join(labels.select(col("id").as("j"), col("lbl").as("nl")), "j")
        .groupBy(col("i").as("id")).agg(min("nl").as("nl"))
      // carry the previous label through the checkpoint so convergence
      // is a filter over already-materialized data, not a second join
      val prop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
        .localCheckpoint()
      // pointer doubling: also adopt the label OF my label — the
      // effective propagation distance doubles every round, so a
      // chain of length m converges in O(log m) rounds instead of
      // O(m). Each round costs one extra self-join over the (small)
      // label table; at 100 TB graph diameters this is the difference
      // between ~40 and ~6 shuffle rounds. Fixpoint unchanged
      // (labels only ever decrease within the component).
      val next = prop.as("x")
        .join(prop.select(col("id").as("lbl"), col("lbl").as("ll")),
          Seq("lbl"), "left")
        .select(col("id"), coalesce(col("ll"), col("lbl")).as("lbl"),
          col("prev"))
        .localCheckpoint()
      changed = next.filter(col("lbl") < col("prev")).count()
      labels = next.select("id", "lbl")
    }
    labels
  }

  /** Driver-side union-find for the under-cap regime of
    * [[connectedComponents]]: weighted union by rank + path
    * compression over the collected edges, then one min-id pass
    * per component — identical labels to the distributed fixpoint
    * (spec-asserted). The collect is bounded by the edge-count gate,
    * never the corpus, and lands as specialized (Long, Long) tuples —
    * no boxed GenericRow per edge (the caller's cast-to-long select
    * also makes int edge columns safe here). */
  private def driverComponents(spark: SparkSession,
      und: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = und.as[(Long, Long)].collect() // ≤ driverEdgeCap tuples
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    val rank = new scala.collection.mutable.ArrayBuffer[Byte]()
    def ix(v: Long): Int = idx.getOrElseUpdate(v, {
      val n = ids.length; ids += v; parent += n; rank += 0; n
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    rows.foreach { r =>
      val ra = find(ix(r._1))
      val rb = find(ix(r._2))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
    }
    // min id per component root, then (id, minId) — the distributed
    // loop's exact output contract
    val minOf = Array.fill(ids.length)(Long.MaxValue)
    ids.indices.foreach { k =>
      val r = find(k)
      if (ids(k) < minOf(r)) minOf(r) = ids(k)
    }
    val out = ids.indices.map(k => (ids(k), minOf(find(k))))
    import spark.implicits._
    out.toDF("id", "lbl")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: survivors + duplicate count per content fingerprint.
    "d1_exact_dedup" -> ((s, d) =>
      docs(s, d)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy("keep_id")),

    // Bloom-filter ADMISSION tier for incremental dedup — the state
    // shape between arr26's exact anti-join (O(keys) shuffle) and
    // st4's unbounded stream state: membership of the already-ingested
    // base is compressed to O(bits). The filter is built DISTRIBUTED
    // (hash positions → bit-words via bit_or aggregation, ≤ m/64 rows
    // ever reach the driver — bounded by the filter size, never the
    // corpus), then carried to the probe side as a literal array
    // (kilobytes; a 100 TB deployment broadcasts or shards it by key
    // range). Increment docs whose probe misses are DEFINITELY new and
    // skip the verify join entirely; only bloom-positives (true dups +
    // ~(1−e^(−k/16))^k ≈ 0.2% false positives) pay the join — so the
    // exact join's left side shrinks from |increment| to |dups| + ε.
    // Published is_dup flows THROUGH the gated path: a Bloom false
    // negative would publish is_dup=false for a true duplicate and the
    // exact-SQL oracle would catch it — the no-false-negative guarantee
    // is what the hash comparison verifies. The increment includes a
    // RE-CRAWL slice (%97 docs re-submitted verbatim) so the positive
    // branch is exercised at EVERY scale: the synthetic corpus has no
    // organic exact duplicates at sf0.01, and a gate that never sees a
    // bloom-positive proves nothing about the verify join.
    "d11_bloom_dedup" -> ((s, d) => {
      val dd = docs(s, d)
      val keyed = dd.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      val base = keyed.filter(col("doc_id") % 3 =!= 0)
      val inc = keyed.filter(
        col("doc_id") % 3 === 0 || col("doc_id") % 97 === 1)
      val (_, hits) = bloomOf(s, base, col("fp"), dd)
      val probed = inc.withColumn("bloom_pos", hits(col("fp"))).localCheckpoint()
      val verified = probed.filter(col("bloom_pos"))
        .join(base.select("fp").distinct().withColumn("seen", lit(true)),
          Seq("fp"), "left")
        .select(col("doc_id"), coalesce(col("seen"), lit(false)).as("is_dup"))
      val fresh = probed.filter(!col("bloom_pos"))
        .select(col("doc_id"), lit(false).as("is_dup"))
      fresh.unionByName(verified).orderBy("doc_id")
    }),

    // n-gram Jaccard near-dup pairs via shingle-join candidates, with
    // a document-frequency cap (1% of corpus, min 50) on candidate
    // generation. On this corpus the cap fires on zero shingles — the
    // oracle (exact O(n²) Jaccard) proves the pair set is unaffected.
    "d2_ngram_jaccard" -> ((s, d) => {
      val dd = docs(s, d)
      jaccardPairsOn(dd, 0.5, Some(dfCap(dd)))
    }),

    // Jaccard-threshold calibration sweep (the choose-a-dedup-
    // threshold report a data team reads BEFORE committing a corpus-
    // wide run, x21/x25's sweep family applied to near-dup): ONE
    // candidate+verify pass at the loosest threshold (0.3), then three
    // threshold readings over that bounded pair table — pair count
    // and 4dp mean similarity per candidate threshold. The base pair
    // build is d2's (df-capped inverted index, exact verify); the
    // sweep itself touches only the pair table, never the corpus
    // again. Filters above the base threshold compare the PUBLISHED
    // 6dp value in both engines (the base 0.3 cut is on raw jac,
    // matching d2's contract). The corpus's organic near-dups are all
    // jac ≥ 0.97 (chunk-level boilerplate) — every threshold would
    // read identically — so the d11 fixture rule applies: union
    // deterministic PREFIX docs (half / three-quarter token prefixes
    // of the %7 slices) whose Jaccard lands mid-range, making the
    // sweep rows actually separate at every scale.
    "d13_jaccard_sweep" -> ((s, d) => {
      val pairs = sweepPairs(s, d)
      Seq(0.3, 0.5, 0.8).map { t =>
        pairs.filter(col("jac") >= t)
          .agg(count(lit(1)).as("n_pairs"),
            coalesce(round(avg(col("jac")), 4), lit(0.0)).as("mean_jac"))
          .select(lit(t).as("threshold"), col("n_pairs"), col("mean_jac"))
      }.reduce(_ unionByName _).orderBy("threshold")
    }),

    // LSH LAYOUT designer sweep — the d-family twin of v29's dial
    // report (the datasketch optimal_param / MMDS ch.3 read a dedup
    // deployment does before fixing d3's banding at corpus scale):
    // for every (bands × rows) split of the 64-hash signature budget,
    // the EXPECTED band-join behavior on THIS corpus's measured pair
    // table (d13's fixture corpus, so mid-range jaccards exist at
    // every scale). Per layout: expected recall mass over true pairs
    // (jac ≥ 0.8) and expected leak-through mass over sub-threshold
    // candidates (0.3 ≤ jac < 0.8 — the verify-join cost proxy), both
    // as the catch probability 1−(1−j^r)^b averaged in fixed-point
    // micro units. ALL powers are CHAINED MULTIPLICATIONS (never
    // pow() — libm is not cross-engine bit-stable; a left-assoc
    // product of identical doubles is), per-pair floor-micro before
    // the sum, integer-div mean — the v25/t30 parity pattern. Reads
    // the per-dataset parked pair index ([[sweepPairs]], built once
    // and shared with d13) + five one-row aggregations.
    "d16_lsh_layout_sweep" -> ((s, d) => {
      val pairs = sweepPairs(s, d)
      def powChain(x: Column, n: Int): Column =
        Iterator.fill(n)(x).reduce(_ * _)
      Seq((64, 1), (32, 2), (16, 4), (8, 8), (4, 16)).map { case (b, r) =>
        val p = lit(1.0) - powChain(lit(1.0) - powChain(col("jac"), r), b)
        val cm = floor(p * 1000000.0).cast("long")
        pairs.agg(
          sum(when(col("jac") >= 0.8, cm)).as("sr"),
          count(when(col("jac") >= 0.8, 1)).as("nr"),
          sum(when(col("jac") < 0.8, cm)).as("sf"),
          count(when(col("jac") < 0.8, 1)).as("nf"))
          .select(lit(b.toLong).as("bands"),
            lit(r.toLong).as("rows_per_band"),
            col("nr").cast("long").as("n_true_pairs"),
            when(col("nr") === 0, 0L)
              .otherwise(expr("sr div nr")).as("recall_micro"),
            when(col("nf") === 0, 0L)
              .otherwise(expr("sf div nf")).as("fp_micro"))
      }.reduce(_ unionByName _).orderBy("rows_per_band")
    }),

    // The layout the engine SERVES — lshLayoutOf's parked,
    // designer-chosen per-corpus default. The oracle replays the
    // decision rule (least leak among recall ≥ 0.999 layouts, widest
    // as fallback) over the same measured pair table, so a stale
    // parked artifact or a drifted rule hash-mismatches.
    "d17_lsh_layout_choice" -> ((s, d) => {
      import s.implicits._
      val (b, r) = lshLayoutOf(s, d)
      Seq((b.toLong, r.toLong)).toDF("bands", "rows_per_band")
    }),

    // CALL cat.build_pair_index end-to-end as a user query: the parked
    // pair table holds exactly the measured pair set (count replayed
    // by the oracle), and a repeat CALL returns the SAME artifact path
    // — a procedure that re-parked per call would flip stable_path.
    "arr37_pair_index_call" -> ((s, d) => {
      import s.implicits._
      val cat = "gpi" + java.lang.Long.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextLong())
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        graft.core.TempDirs.fresh("graft_pic"))
      val p1 = s.sql(s"CALL $cat.build_pair_index('$d')")
        .head().getString(0)
      val p2 = s.sql(s"CALL $cat.build_pair_index('$d')")
        .head().getString(0)
      val n = s.read.parquet(p1 + "/pairs").count()
      Seq((n, p1 == p2)).toDF("n_pairs", "stable_path")
    }),

    // MinHash(64) + LSH candidates, verified with exact Jaccard ≥ 0.8.
    // The band layout is DERIVED per corpus by d16's designer over the
    // parked pair index (lshLayoutOf — 16 bands × 4 rows on this
    // corpus, spec-pinned), not hardcoded. CONTRACT (round-11 ADVICE):
    // recall-ACCOUNTED like the whole banded family, not "exact at any
    // scale" — S-curve recall at j≥0.8 under 16×4 is 1 − (1−j⁴)¹⁶
    // ≥ 1 − 7·10⁻⁶, and the HotBandCap misses a true pair only when
    // EVERY band it agrees on is shared by >1024 distinct sequences
    // (dropped keys are logged). On this corpus the cap is inert
    // (spec-asserted) and the published set IS the exact one — which
    // is what the oracle replays.
    "d3_minhash_lsh" -> ((s, d) =>
      minhashVerifiedPairs(docs(s, d), 0.8, layout = lshLayoutOf(s, d))
        .select(col("i"), col("j"), round(col("jac"), 6).as("jac"))
        .orderBy("i", "j")),

    // Cluster-level dedup — the operator that survives HOT duplicate
    // clusters: a cluster of m near-identical documents has m(m−1)/2
    // pairs (quadratic to enumerate) but only m (doc → cluster-head)
    // assignments. Connected components over the verified near-dup
    // edges via distributed min-label propagation; every document in a
    // cluster maps to the smallest doc_id it can reach — "keep one per
    // duplicate cluster" at linear output cost. Iterations are bounded
    // by component diameter; each is a plain shuffled join, so the loop
    // scales to any corpus Spark can join.
    "d5_dup_clusters" -> ((s, d) => {
      val edges = minhashVerifiedPairs(docs(s, d), 0.8,
        layout = lshLayoutOf(s, d)).select("i", "j")
      connectedComponents(edges)
        .select(col("id").as("doc_id"), col("lbl").as("cluster"))
        .orderBy("doc_id")
    }),

    // Quality-aware canonical selection — what production dedup
    // actually keeps: not the LOWEST id per cluster (d5's min-label
    // convention) but the BEST member (highest t2 quality, id as the
    // deterministic tiebreak). One struct-max aggregation over the
    // cluster assignment — the keeper argmax adds no join or sort
    // beyond d5's own machinery, so the scale shape is unchanged
    // (edge-sized CC + one hash aggregation). The published keep_q is
    // qualityScore's already-rounded value (the only float, engine-
    // replayed 1:1 by the t2 oracle formula).
    "d12_keep_best" -> ((s, d) => {
      val dd = docs(s, d)
      val edges = minhashVerifiedPairs(dd, 0.8,
        layout = lshLayoutOf(s, d)).select("i", "j")
      val cl = connectedComponents(edges)
        .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      val q = dd.select(col("doc_id"), qualityScore(col("text")).as("q"))
      cl.join(q, "doc_id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("q"), (-col("doc_id")).as("nid"))).as("best"))
        .select(col("cluster"), col("n_members"),
          (-col("best.nid")).as("keep_id"), col("best.q").as("keep_q"))
        .orderBy("cluster")
    }),

    // SimHash near-dup pairs: hamming(sig_i, sig_j) ≤ 6. Candidates via
    // 9-bit band join — 7 bands cover 60 bits, and by pigeonhole ≤6
    // flipped bits always leave ≥1 band identical, so the banded join
    // has guaranteed recall (the oracle is the exact O(n²) answer).
    // Hot-bucket hardening (collapse + df-cap) in [[simhashPairs]].
    "d4_simhash_pairs" -> ((s, d) =>
      simhashPairs(docs(s, d).select(col("doc_id"),
        simhash(col("text")).as("sim")))),

    // Long-span duplicate pairs: documents sharing a VERBATIM 32-token
    // window — the PAIR view of memorized spans (a 32-token verbatim
    // overlap is the classic memorized-span cut; cf. the Gopher/
    // C4-style repeated-passage filters). Formerly the stand-in for
    // suffix-array exact-substring dedup; that tier is now first-class
    // as d10 ([[substringDedup]] — position-level >= 50-token coverage,
    // Lee et al.), while d6 keeps the who-overlaps-whom pair surface.
    // Same inverted-index + df-cap shape as d2, exact shared-window
    // count on candidates. This synthetic corpus shares no 32-token
    // span (the oracle proves the empty answer); DedupSpec injects
    // real spans.
    "d6_span_dup" -> ((s, d) => spanDupPairs(docs(s, d), Some(1024))),

    // Winnowing near-dup pairs: the t17 fingerprints as the inverted
    // index — a guaranteed-recall (≥12-token runs), ~4× smaller index
    // than d6's stride-1 window set. df-capped like d2/d6.
    "d8_winnow_dup" -> ((s, d) => {
      val dd = docs(s, d)
      winnowDupPairs(dd, Some(dfCap(dd)))
    }),

    // Char-5-gram Jaccard near-dup (tokenizer-free, for scripts with
    // no word boundaries): d2's capped-index → exact-verify shape over
    // character grams. Oracle replays the exact O(n²) Jaccard.
    "d9_char_ngram" -> ((s, d) => {
      val dd = docs(s, d)
      charNgramPairs(dd, 0.8, Some(dfCap(dd)))
    }),

    // Containment dedup (one-sided Jaccard): subset-duplicates at
    // containment ≥ 0.8, both directions of every surfaced pair. Same
    // df cap as d2 (inert on this corpus — the exact oracle proves the
    // pair set unaffected).
    "d7_containment" -> ((s, d) => {
      val dd = docs(s, d)
      containmentPairs(dd, 0.8, Some(dfCap(dd)))
    }),

    // Corpus-wide EXACT duplicated-substring coverage at >= 50 tokens
    // (the Lee et al. 2021 "Deduplicating Training Data Makes Language
    // Models Better" standard) — the tier d6's pair surface stood in
    // for. Linear, no pair join: see [[substringDedup]].
    "d10_substring_dedup" -> ((s, d) => substringDedup(docs(s, d))),

    // Dedup ATTRIBUTION waterfall — the governance read over the whole
    // dedup stack: every document gets the FIRST tier that catches it
    // (exact fingerprint → near-dup Jaccard 0.8 → edit-distance τ=5 →
    // unique), and the report prices each tier by what it UNIQUELY
    // removes — the "is the expensive tier earning its place" answer
    // at the corpus grain (x32's ablation question, asked of dedup).
    // Two fixtures keep every tier live at every scale: the %97
    // re-crawl (exact) and the %29 short-doc corruption (5 in-place
    // substitutions in a 60–120-char doc kill half its shingles —
    // measured Jaccard 0.15–0.56, below the near tier — while the
    // edit tier catches dist=5). "Duplicate" = the higher id of a
    // pair (keep-first), matching d1/d5's keeper convention.
    "d15_dedup_waterfall" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val recrawl = base.filter(col("doc_id") % 97 === 1)
        .select((col("doc_id") + 9500000L).as("doc_id"), col("text"))
      val corrupted = base
        .filter(col("doc_id") % 29 === 1 &&
          length(col("text")).between(60, 120))
        .select((col("doc_id") + 9600000L).as("doc_id"),
          concat(expr("substring(text, 1, 29)"), lit("zzzzz"),
            expr("substring(text, 35)")).as("text"))
      val all = base.unionByName(recrawl).unionByName(corrupted)
        .localCheckpoint()
      val exact = all.select(col("doc_id"),
          md5(graft.functions.TextFunctions.normText(col("text"))).as("fp"))
      val exKeep = exact.groupBy("fp").agg(min("doc_id").as("keep"))
      val exDup = exact.join(exKeep, "fp")
        .filter(col("doc_id") =!= col("keep"))
        .select(col("doc_id")).withColumn("ex", lit(1L))
      // the edit tier runs over the FULL corpus, exact dups included:
      // pruning exact-tier catches from the pair universe would be
      // unsound — exactness is over NORMALIZED text while this tier
      // pairs on RAW prefixes, so a removed dup (e.g. a case-variant
      // copy) can be the ONLY raw-prefix edit-partner of a third doc,
      // whose 3_edit label would silently vanish. The cost concern the
      // pruning aimed at is already absorbed structurally: identical
      // raw prefixes collapse to one band-join row inside
      // editNeardupPairs (and identical shingle sequences inside
      // minhashVerifiedPairs), so a re-crawl wave adds group members,
      // not join skew.
      //
      // The near and edit tiers are INDEPENDENT pipelines over the
      // same checkpointed corpus whose construction fires eager
      // internal materializations (minhash members/reps, edit prefix
      // groups); built sequentially those jobs serialize on the
      // driver thread while executors idle through each other's
      // stage tails. Build both on their own threads (guide §2.6 —
      // overlap independent jobs; the st11 twin's pattern) and let
      // the scheduler back-fill; the composed plan below is
      // unchanged, so the published rows are too.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val nearF = scala.concurrent.Future {
        minhashVerifiedPairs(all, 0.8, layout = lshLayoutOf(s, d))
          .select(col("j").as("doc_id")).distinct()
          .withColumn("nr", lit(1L))
      }
      val editF = scala.concurrent.Future {
        editNeardupPairs(all, 5)
          .select(col("j").as("doc_id")).distinct()
          .withColumn("ed", lit(1L))
      }
      val (nearDup, editDup) =
        try {
          import scala.concurrent.duration.Duration
          (scala.concurrent.Await.result(nearF, Duration.Inf),
            scala.concurrent.Await.result(editF, Duration.Inf))
        } finally pool.shutdown()
      val tiered = all.select("doc_id")
        .join(exDup, Seq("doc_id"), "left")
        .join(nearDup, Seq("doc_id"), "left")
        .join(editDup, Seq("doc_id"), "left")
        .select(when(col("ex") === 1L, "1_exact")
          .when(col("nr") === 1L, "2_near")
          .when(col("ed") === 1L, "3_edit")
          .otherwise("4_unique").as("tier"))
      val tot = tiered.agg(count(lit(1)).as("td"))
      tiered.groupBy("tier").agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(tot))
        .select(col("tier"), col("n_docs"),
          expr("n_docs * 10000 div td").as("share_bp"))
        .orderBy("tier")
    }),

    // Edit-distance near-dup join (the tier the set-based family can't
    // see: token REORDERING keeps Jaccard at 1.0 but explodes edit
    // distance, and small in-place character corruption — OCR noise,
    // re-crawl artifacts — keeps edit distance tiny while fracturing
    // every shingle it touches). PassJoin-style aligned-segment
    // blocking + exact integer Levenshtein verify; the %89 corrupted
    // re-crawl fixture (5 in-place substitutions at chars 11–15)
    // exercises the positive branch at every scale.
    "d14_edit_neardup" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val fix = base.filter(col("doc_id") % 89 === 7)
        .select((col("doc_id") + 9300000L).as("doc_id"),
          concat(expr("substring(text, 1, 10)"), lit("qqqqq"),
            expr("substring(text, 16)")).as("text"))
      editNeardupPairs(base.unionByName(fix), 5).orderBy("i", "j")
    })
  )

  /** The d13/d16 sweep corpus: documents ∪ deterministic PREFIX
    * fixtures (half / three-quarter token prefixes of the %7 slices)
    * whose Jaccard lands mid-range — the corpus's organic near-dups
    * are all jac ≥ 0.97, so without the fixtures every threshold and
    * every layout would read identically (the d11 fixture rule). */
  private def sweepCorpus(s: SparkSession, d: String): DataFrame = {
    val raw = docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
    def prefixed(modv: Int, offset: Long, num: Int, den: Int) =
      raw.filter(col("doc_id") % 7 === modv)
        .select((col("doc_id") + offset).as("doc_id"),
          expr(s"concat_ws(' ', slice(toks, 1, " +
            s"(size(toks) * $num + ${den - 1}) div $den))").as("text"))
    raw.select("doc_id", "text")
      .unionByName(prefixed(1, 2000000L, 1, 2))
      .unionByName(prefixed(2, 3000000L, 3, 4))
  }

  /** d13/d16's measured pair table (exact Jaccard ≥ 0.3 over the
    * sweep corpus), built ONCE per dataset and parked as parquet in
    * the cross-process [[graft.core.Artifacts]] store — both sweep
    * REPORTS read the same measured pair index instead of re-running
    * the candidate+verify build per query, and a FRESH process finds
    * the index warm on disk (keyed by the source file's size+mtime,
    * so a regenerated corpus re-measures). `CALL cat.build_pair_index
    * (dir)` runs the same builder explicitly. */
  private[graft] def buildPairIndex(s: SparkSession, d: String): String =
    graft.core.Artifacts.resolveOrBuild(s, "pair_index", d,
      graft.Tables.fileSig(s"$d/documents.parquet")) { tmp =>
      val c = sweepCorpus(s, d)
      jaccardPairsOn(c, 0.3, Some(dfCap(c)))
        .write.mode("overwrite").parquet(s"$tmp/pairs")
    }
  private def sweepPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(buildPairIndex(s, d) + "/pairs")

  /** PassJoin-style blocked edit-similarity join (Li et al., ICDE'11
    * "PASS-JOIN: a partition-based method for similarity joins"): a
    * pair is an edit near-dup when the Levenshtein distance of their
    * space-padded `(tau+1)*43`-char prefixes is <= tau. Candidates come
    * from the pigeonhole partition — the prefix splits into tau+1
    * aligned 43-char segments, and any pair within distance tau under
    * SUBSTITUTIONS shares at least one aligned segment verbatim.
    * Segments that are ENTIRELY padding are excluded from blocking
    * (every short doc would share them — an accidental all-pairs join
    * over the short class); the recall contract is therefore:
    * guaranteed for substitution-regime pairs whenever some
    * content-bearing segment is untouched (always, for docs >= 216
    * chars; for shorter docs, whenever the tau edits cluster in fewer
    * segments than the doc's content spans — insert/delete shifts take
    * the full PassJoin shift window, documented like d6's fixed-window
    * stand-in). The ORACLE replays the identical blocking, so parity
    * is structural, and the verify is an exact integer. Scale shape:
    * identical prefixes collapse to ONE representative before the
    * segment self-join (the [[simhashMembers]] (gid, member) standard)
    * — a mega-cluster of m byte-identical documents costs one band-join
    * row, its m·(m-1)/2 pairs expanding OUTPUT-bound through the group
    * table instead of landing m rows on one shuffle key; cross-group
    * candidates are <= 6 segment rows per DISTINCT prefix
    * equality-joined on the segment — an O(candidates) join, never
    * all-pairs. Result set is provably unchanged: same-prefix pairs
    * share every content segment (dist 0), and two distinct prefixes
    * share a band iff their representatives do. */
  private[graft] def editNeardupPairs(docsDf: DataFrame,
      tau: Int): DataFrame = {
    val segLen = 43
    val nSeg = tau + 1
    // identical-prefix groups; referenced by reps, intra and cross
    val members = editPrefixGroups(docsDf, tau).localCheckpoint()
    // one representative row per DISTINCT prefix for the band join
    val reps = members.filter(col("doc_id") === col("gid"))
      .select(col("gid"), col("pfx"))
    val segs = editBandRows(reps, tau)
    val candG = segs.as("a").join(segs.as("b"), "band")
      .filter(col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("ga"), col("b.gid").as("gb"))
      .distinct()
    val verifiedG = candG
      .join(reps.select(col("gid").as("ga"), col("pfx").as("pa")), "ga")
      .join(reps.select(col("gid").as("gb"), col("pfx").as("pb")), "gb")
      .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("long"))
      .filter(col("dist") <= tau)
      .select("ga", "gb", "dist")
    // intra-group pairs: identical prefixes ⇒ distance 0; self-join on
    // gid is output-bound and the per-key buffer spills instead of
    // materializing the group (never a collect_list mega-row)
    val intra = members.select(col("gid"), col("doc_id").as("i"))
      .join(members.select(col("gid"), col("doc_id").as("j")), "gid")
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), lit(0L).as("dist"))
    // member expansion AFTER the verify: only true group pairs inflate
    val cross = verifiedG
      .join(members.select(col("gid").as("ga"), col("doc_id").as("x")),
        "ga")
      .join(members.select(col("gid").as("gb"), col("doc_id").as("y")),
        "gb")
      .select(least(col("x"), col("y")).as("i"),
        greatest(col("x"), col("y")).as("j"), col("dist"))
    intra.unionByName(cross)
  }

  /** `(doc_id, pfx, gid)` rows for [[editNeardupPairs]]: the padded
    * `(tau+1)*43`-char prefix plus the identical-prefix group id
    * (smallest doc_id sharing the prefix). Documents whose ENTIRE
    * prefix is padding generate no content-bearing segment under the
    * blocking contract and therefore no candidate — they are excluded
    * here so the intra-group expansion cannot invent pairs the
    * blocking never saw (empty/whitespace-only docs pair with
    * nothing, matching the oracle). */
  private[graft] def editPrefixGroups(docsDf: DataFrame,
      tau: Int): DataFrame = {
    val width = 43 * (tau + 1)
    collapseIdenticalKeys(
      docsDf.select(col("doc_id"),
        rpad(expr(s"substring(text, 1, $width)"), width, " ").as("pfx"))
        .filter(trim(col("pfx")) =!= ""),
      col("pfx"), "doc_id")
  }

  /** Aligned-segment band rows over prefix-group REPRESENTATIVES —
    * `(gid, band)` with all-padding segments excluded. Takes reps, not
    * docs: the band self-join must see one row per distinct prefix
    * (spec-asserted in DedupSpec's mega-cluster test). */
  private[graft] def editBandRows(reps: DataFrame, tau: Int): DataFrame = {
    val segLen = 43
    reps.select(col("gid"),
      explode(transform(sequence(lit(0), lit(tau)), k =>
        struct(k.as("slot"),
          col("pfx").substr(k * lit(segLen) + 1, lit(segLen)).as("seg"))))
        .as("sg"))
      .filter(trim(col("sg.seg")) =!= "")
      .select(col("gid"),
        concat_ws("_", col("sg.slot"), col("sg.seg")).as("band"))
  }

  /** Default per-band distinct-signature frequency cap for the banded
    * LSH joins (d4 / v1b). Accounting: identical signatures collapse
    * before the band join, so a band exceeds the cap only when > cap
    * DISTINCT signatures share it; a true pair is LOST only if every
    * band it agrees on is that hot. At hamming ≤ 6 over 60 bits a pair
    * shares ≥1 of 7 bands (pigeonhole), so the miss condition is "all
    * its agreeing bands are shared by >1024 distinct sigs each" —
    * corpus-statistics territory the d2 shingle cap already accepts,
    * and spec-asserted to not fire on the test corpus. */
  private[graft] val HotBandCap = 1024L

  /** Per-member group tagging: each `(doc_id, sim)` row gains `gid`,
    * the smallest doc_id sharing its signature — the (gid, member)
    * PAIR representation of identical-signature groups. A hot cluster
    * of m duplicate documents is m fixed-width rows spread across
    * partitions, never one array row holding the whole group — 10⁸
    * copies of a document must not build a single multi-GB
    * `collect_list` row on one executor (round-7 verdict #1). The
    * group id comes from a map-side-combinable `groupBy(sim).agg(min)`
    * plus an AQE-skew-splittable join-back — the signature is already
    * an exact 8-byte key, so no fingerprint (and no collision bound)
    * is needed, unlike [[collapseIdenticalKeys]]'s array/string keys.
    * The band join still sees one row per DISTINCT signature (the
    * `gid == doc_id` representative), so the round-4 quadratic-bucket
    * fix is unchanged. */
  private[graft] def simhashMembers(sig: DataFrame): DataFrame = {
    val s = sig.localCheckpoint()
    val gids = s.groupBy(col("sim")).agg(min(col("doc_id")).as("gid"))
    s.join(gids, "sim")
      .select(sig.columns.map(col) :+ col("gid"): _*)
  }

  // once-per-JVM guard for the dropHotBands warning (keyed by the
  // dropped-key count bucket — one line per regime, not per query)
  private val hotBandWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Drop band keys shared by more than `cap` rows from candidate
    * generation — the shared hot-band guard for every banded-LSH join
    * (d3 minhash, d4 simhash, v1b/v5 embedding near-dup): a degenerate
    * band would otherwise join quadratically. Recall accounting at
    * [[HotBandCap]]: a true pair is lost only if EVERY band it agrees
    * on is shared by > cap DISTINCT sketches — the d2/d4-style
    * accounted-recall contract the whole banded family carries (the
    * round-11 advisor flagged d3's older "exact pair set" phrasing;
    * COVERAGE.md now states the accounted contract for it too). When
    * any key IS dropped, one log line per JVM/regime names the count
    * (the bloomOf discipline) so a capped corpus is visible in logs,
    * never silent. */
  private[graft] def dropHotBands(bands: DataFrame,
      dfCap: Option[Long]): DataFrame = dfCap match {
    case Some(cap) =>
      // Size-gated single-pass regime: the hot-key count used to read
      // the band pipeline once and the returned frame recomputed it
      // again in the self-join — the signature pipeline ran twice per
      // query (round-12 verdict "what's wrong" #5, ~0.3 s at sf0.1).
      // Below the gate the band rows are materialized once
      // (localCheckpoint; 16-byte rows, bounded by the input estimate)
      // and both the hot count and the join read the blocks. Above
      // the gate the deliberate recompute-over-materialize shape is
      // unchanged — at corpus scale the band table is 16×corpus rows
      // and a second embarrassingly-parallel pass beats writing it to
      // executor disks.
      val gate = bands.sparkSession.conf
        .getOption("graft.dedup.collapseBroadcastMaxBytes").map(_.toLong)
        .getOrElse(256L << 20)
      val b = if (gate > 0 &&
          bands.queryExecution.optimizedPlan.stats.sizeInBytes
            <= BigInt(gate)) bands.localCheckpoint()
        else bands
      // the hot set is tiny by construction (≤ total bands / cap keys)
      // — collect it to the driver: the one job replaces the broadcast
      // exchange the former anti-join ran anyway, the count feeds the
      // accounting log for free, and the COMMON case (no hot keys —
      // spec-asserted on this corpus) returns the band rows with no
      // filter at all
      val hotKeys = b.groupBy("band").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select("band")
        .collect().map(_.get(0)) // ≤ bands/cap rows by construction
      if (hotKeys.nonEmpty && hotBandWarned.add(hotKeys.length.toLong))
        System.err.println(s"[graft] dropHotBands: ${hotKeys.length} " +
          s"band key(s) exceeded the $cap distinct-sketch cap and were " +
          "dropped from candidate generation (recall accounting: a " +
          "true pair is missed only if every band it agrees on is " +
          "that hot)")
      if (hotKeys.isEmpty) b
      else if (hotKeys.length <= 10000)
        b.filter(!col("band").isInCollection(hotKeys))
      else {
        // adversarial regime (≥ 10k hot keys): stay distributed
        val hot = b.groupBy("band").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("band")
        b.join(broadcast(hot), Seq("band"), "left_anti")
      }
    case None => bands
  }

  /** 9-bit band keys over DISTINCT signatures (any frame with a `sim`
    * column — callers pass the group representatives), with hot bands
    * (> cap distinct sigs) dropped from candidate generation (recall
    * accounting at [[HotBandCap]]). */
  private[graft] def simhashBandRows(reps: DataFrame,
      dfCap: Option[Long]): DataFrame = {
    // (band index, 9-bit slice) packed into one long — equality
    // identical to the former string key, no hash involved: the slice
    // is < 2⁹, so index·2⁹ + slice is injective
    val bands0 = reps.select(col("sim"),
      explode(transform(sequence(lit(0), lit(6)), b =>
        b.cast("long") * lit(512L) +
          (call_function("shiftright", col("sim"), b * 9)
            .bitwiseAND(lit(0x1ffL))))).as("band"))
    dropHotBands(bands0, dfCap)
  }

  /** SimHash near-dup pairs (hamming ≤ 6) over `(doc_id, sim)`. */
  private[graft] def simhashPairs(sig: DataFrame,
      dfCap: Option[Long] = Some(HotBandCap)): DataFrame = {
    // members feed the intra self-join and the two cross expansions;
    // materialize once — this also runs the tokenize+md5 signature
    // pipeline exactly once. Rows are fixed-width (doc_id, sim, gid):
    // no array row ever holds a whole identical-signature group.
    val members = simhashMembers(sig).localCheckpoint()
    // one representative row per distinct signature for the band join
    // (a hot cluster of m duplicates still costs ONE band-join row)
    val reps = members.filter(col("doc_id") === col("gid")).select("sim")
    // intra-group pairs via self-join on gid — output-bound, and the
    // join's per-key buffer spills instead of materializing the group
    val intra = members.select(col("gid"), col("doc_id").as("i"))
      .join(members.select(col("gid"), col("doc_id").as("j")), "gid")
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), lit(0L).as("hamming"))
    val bands = simhashBandRows(reps, dfCap)
    val sigPairs = bands.as("a").join(bands.as("b"), "band")
      .filter(col("a.sim") < col("b.sim"))
      .select(col("a.sim").as("sa"), col("b.sim").as("sb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= 6)
    // member expansion AFTER the hamming cut, by joining the member
    // table twice: only true signature pairs inflate to doc pairs
    // (output-sized), and expansion streams instead of exploding a
    // group-sized array
    val cross = sigPairs
      .join(members.select(col("sim").as("sa"), col("doc_id").as("x")),
        "sa")
      .join(members.select(col("sim").as("sb"), col("doc_id").as("y")),
        "sb")
      .select(least(col("x"), col("y")).as("i"),
        greatest(col("x"), col("y")).as("j"), col("hamming"))
    intra.unionByName(cross).orderBy("i", "j")
  }

  private[operators] val shingleSql =
    """SELECT doc_id, list_distinct(
         [array_to_string(list_slice(toks, i, i + 4), ' ')
          for i in range(1, len(toks) - 3)]) AS sh
       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents)"""

  private[graft] def exactJaccardSql(threshold: Double): String =
    s"""WITH sh AS ($shingleSql)
       SELECT i, j, round(jac, 6) AS jac FROM (
         SELECT a.doc_id AS i, b.doc_id AS j,
           len(list_intersect(a.sh, b.sh))::double /
           len(list_distinct(list_concat(a.sh, b.sh)))::double AS jac
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh)) > 0)
       WHERE jac >= $threshold ORDER BY i, j"""

  private val dupClustersSql =
    s"""WITH RECURSIVE pairs AS (
         SELECT i, j FROM (${exactJaccardSql(0.8)
           .replace("ORDER BY i, j", "")})),
       edges AS (SELECT i AS src, j AS dst FROM pairs
                 UNION ALL SELECT j, i FROM pairs),
       verts AS (SELECT DISTINCT src AS id FROM edges),
       reach(id, root) AS (
         SELECT id, id FROM verts
         UNION
         SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id)
       SELECT id AS doc_id, min(root)::bigint AS cluster
       FROM reach GROUP BY id ORDER BY doc_id"""

  /** Exact base-membership answer for the Bloom admission tier — ONE
    * definition referenced by both d11 (batch) and st12 (streaming),
    * so the two paths can never be verified against drifting
    * contracts. Increment = the %3 slice plus the %97 re-crawl slice
    * (see d11's comment). */
  private[operators] val bloomMembershipSql: String =
    """WITH keyed AS (
         SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         FROM documents)
       SELECT i.doc_id,
         i.fp IN (SELECT fp FROM keyed WHERE doc_id % 3 <> 0) AS is_dup
       FROM keyed i WHERE i.doc_id % 3 = 0 OR i.doc_id % 97 = 1
       ORDER BY doc_id"""

  /** DuckDB replay of the d13/d16/d17/arr37 sweep-pair table: the
    * sweep corpus (documents ∪ prefix fixtures) → distinct 5-token
    * shingle sets → exact Jaccard ≥ 0.3 pairs, as a reusable WITH
    * prologue ending in the `base(jac)` CTE. */
  private def sweepPairsCte: String = {
    def prefixLeg(modv: Int, offset: Long, num: Int, den: Int) =
      s"""SELECT doc_id + $offset AS doc_id,
         array_to_string(list_slice(toks, 1,
           (len(toks) * $num + ${den - 1}) // $den), ' ') AS text
       FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
             FROM documents)
       WHERE doc_id % 7 = $modv"""
    s"""WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL ${prefixLeg(1, 2000000L, 1, 2)}
         UNION ALL ${prefixLeg(2, 3000000L, 3, 4)}),
       sh AS (SELECT doc_id, list_distinct(
           [array_to_string(list_slice(toks, i, i + 4), ' ')
            for i in range(1, len(toks) - 3)]) AS sh
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+')
                 AS toks FROM corpus)),
       base AS (
         SELECT round(jac, 6) AS jac FROM (
           SELECT len(list_intersect(a.sh, b.sh))::double /
             len(list_distinct(list_concat(a.sh, b.sh)))::double AS jac
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) > 0)
         WHERE jac >= 0.3)"""
  }

  /** The five 64-splitting layouts' S-curve recall/leak columns over
    * `base` — chained multiplication only, shared by d16 and d17. */
  private def layoutSweepLegs: String = {
    def chain(e: String, n: Int) =
      List.fill(n)(e).mkString("(", " * ", ")")
    def layoutLeg(b: Int, r: Int) = {
      val pr = s"(1.0 - ${chain(s"(1.0 - ${chain("jac", r)})", b)})"
      s"""SELECT $b::bigint AS bands, $r::bigint AS rows_per_band,
         count(CASE WHEN jac >= 0.8 THEN 1 END)::bigint AS n_true_pairs,
         (CASE WHEN count(CASE WHEN jac >= 0.8 THEN 1 END) = 0 THEN 0
               ELSE sum(CASE WHEN jac >= 0.8
                   THEN floor($pr * 1000000)::bigint END)
                 // count(CASE WHEN jac >= 0.8 THEN 1 END)
          END)::bigint AS recall_micro,
         (CASE WHEN count(CASE WHEN jac < 0.8 THEN 1 END) = 0 THEN 0
               ELSE sum(CASE WHEN jac < 0.8
                   THEN floor($pr * 1000000)::bigint END)
                 // count(CASE WHEN jac < 0.8 THEN 1 END)
          END)::bigint AS fp_micro
       FROM base"""
    }
    Seq((64, 1), (32, 2), (16, 4), (8, 8), (4, 16))
      .map { case (b, r) => layoutLeg(b, r) }.mkString(" UNION ALL ")
  }

  /** d17's decision columns over `base`: the WORST true pair's capture
    * mass per layout (min over jac ≥ 0.8 — the per-pair guard) plus
    * the mid-range leak mean — chained multiplication only. */
  private def layoutChoiceLegs: String = {
    def chain(e: String, n: Int) =
      List.fill(n)(e).mkString("(", " * ", ")")
    def leg(b: Int, r: Int) = {
      val pr = s"(1.0 - ${chain(s"(1.0 - ${chain("jac", r)})", b)})"
      s"""SELECT $b::bigint AS bands, $r::bigint AS rows_per_band,
         coalesce(min(CASE WHEN jac >= 0.8
             THEN floor($pr * 1000000)::bigint END),
           1000000)::bigint AS min_recall_micro,
         (CASE WHEN count(CASE WHEN jac < 0.8 THEN 1 END) = 0 THEN 0
               ELSE sum(CASE WHEN jac < 0.8
                   THEN floor($pr * 1000000)::bigint END)
                 // count(CASE WHEN jac < 0.8 THEN 1 END)
          END)::bigint AS fp_micro
       FROM base"""
    }
    Seq((64, 1), (32, 2), (16, 4), (8, 8), (4, 16))
      .map { case (b, r) => leg(b, r) }.mkString(" UNION ALL ")
  }

  val oracles: Map[String, String] = Map(
    "d5_dup_clusters" -> dupClustersSql,
    // d12: d5's recursive-CC clusters joined to t2's quality formula;
    // keeper = ordered-first by (quality DESC, doc_id) — Spark's
    // struct-max with negated id is the same total order
    "d12_keep_best" ->
      s"""WITH cl AS (${dupClustersSql.replace("ORDER BY doc_id", "")}),
         q AS (${TextOps.qualitySql})
       SELECT cl.cluster, count(*)::bigint AS n_members,
         first(cl.doc_id ORDER BY q.quality DESC, cl.doc_id) AS keep_id,
         max(q.quality) AS keep_q
       FROM cl JOIN q ON cl.doc_id = q.doc_id
       GROUP BY cl.cluster ORDER BY cluster""",
    "d1_exact_dedup" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    "d2_ngram_jaccard" -> exactJaccardSql(0.5),
    "d3_minhash_lsh" -> exactJaccardSql(0.8),
    // d15: tiers replay as d1's fingerprint rule, the exact 0.8
    // Jaccard pair set (d3's precedent for the LSH path) and d14's
    // blocked edit rule, over the composed corpus
    "d15_dedup_waterfall" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 9500000, text FROM documents
           WHERE doc_id % 97 = 1
           UNION ALL
           SELECT doc_id + 9600000,
             substring(text, 1, 29) || 'zzzzz' || substring(text, 35)
           FROM documents
           WHERE doc_id % 29 = 1 AND length(text) BETWEEN 60 AND 120),
         fp AS (SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
           FROM corpus),
         ex AS (SELECT f2.doc_id FROM fp f2
           JOIN (SELECT f, min(doc_id) AS keep FROM fp GROUP BY f) k
             ON f2.f = k.f WHERE f2.doc_id <> k.keep),
         sh AS (SELECT doc_id, list_distinct(
             [array_to_string(list_slice(toks, i, i + 4), ' ')
              for i in range(1, len(toks) - 3)]) AS s
           FROM (SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS toks FROM corpus)),
         nr AS (SELECT DISTINCT b.doc_id
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.s, b.s)) > 0
             AND len(list_intersect(a.s, b.s))::double /
                 len(list_distinct(list_concat(a.s, b.s)))::double >= 0.8),
         k2 AS (SELECT doc_id,
             rpad(substring(text, 1, 258), 258, ' ') AS pfx FROM corpus),
         segs AS (SELECT doc_id, u.s AS slot,
             substring(pfx, u.s * 43 + 1, 43) AS seg
           FROM k2, unnest(range(0, 6)) AS u(s)),
         sg AS (SELECT * FROM segs WHERE trim(seg) <> ''),
         cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
           FROM sg a JOIN sg b
             ON a.slot = b.slot AND a.seg = b.seg AND a.doc_id < b.doc_id),
         ed AS (SELECT DISTINCT j AS doc_id FROM cand
           JOIN k2 ka ON ka.doc_id = i JOIN k2 kb ON kb.doc_id = j
           WHERE levenshtein(ka.pfx, kb.pfx) <= 5),
         t AS (SELECT c.doc_id,
             CASE WHEN ex.doc_id IS NOT NULL THEN '1_exact'
                  WHEN nr.doc_id IS NOT NULL THEN '2_near'
                  WHEN ed.doc_id IS NOT NULL THEN '3_edit'
                  ELSE '4_unique' END AS tier
           FROM corpus c
           LEFT JOIN ex ON ex.doc_id = c.doc_id
           LEFT JOIN nr ON nr.doc_id = c.doc_id
           LEFT JOIN ed ON ed.doc_id = c.doc_id),
         tot AS (SELECT count(*) AS td FROM t)
       SELECT tier, count(*) AS n_docs,
         (count(*) * 10000 // td)::bigint AS share_bp
       FROM t, tot GROUP BY tier, td ORDER BY tier""",
    // d14: the blocking (aligned 43-char segments of the padded
    // 258-prefix, padding-only segments excluded) is part of the
    // operator contract and replays structurally; levenshtein is an
    // exact integer in both engines
    "d14_edit_neardup" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 9300000,
             substring(text, 1, 10) || 'qqqqq' || substring(text, 16)
           FROM documents WHERE doc_id % 89 = 7),
         k AS (SELECT doc_id,
             rpad(substring(text, 1, 258), 258, ' ') AS pfx FROM base),
         segs AS (SELECT doc_id, u.s AS slot,
             substring(pfx, u.s * 43 + 1, 43) AS seg
           FROM k, unnest(range(0, 6)) AS u(s)),
         sg AS (SELECT * FROM segs WHERE trim(seg) <> ''),
         cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
           FROM sg a JOIN sg b
             ON a.slot = b.slot AND a.seg = b.seg AND a.doc_id < b.doc_id)
       SELECT i, j, levenshtein(ka.pfx, kb.pfx)::bigint AS dist
       FROM cand JOIN k ka ON ka.doc_id = i JOIN k kb ON kb.doc_id = j
       WHERE levenshtein(ka.pfx, kb.pfx) <= 5
       ORDER BY i, j""",
    // d13: the exact 0.3 pair table over documents ∪ prefix fixtures
    // (base cut on raw jac, like d2's contract), re-read at each
    // threshold over the PUBLISHED 6dp jac
    "d13_jaccard_sweep" -> {
      def prefixLeg(modv: Int, offset: Long, num: Int, den: Int) =
        s"""SELECT doc_id + $offset AS doc_id,
           array_to_string(list_slice(toks, 1,
             (len(toks) * $num + ${den - 1}) // $den), ' ') AS text
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
               FROM documents)
         WHERE doc_id % 7 = $modv"""
      def leg(t: String) =
        s"""SELECT $t::double AS threshold, count(*)::bigint AS n_pairs,
           coalesce(round(avg(jac), 4), 0.0) AS mean_jac
         FROM base WHERE jac >= $t"""
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL ${prefixLeg(1, 2000000L, 1, 2)}
           UNION ALL ${prefixLeg(2, 3000000L, 3, 4)}),
         sh AS (SELECT doc_id, list_distinct(
             [array_to_string(list_slice(toks, i, i + 4), ' ')
              for i in range(1, len(toks) - 3)]) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+')
                   AS toks FROM corpus)),
         base AS (
           SELECT i, j, round(jac, 6) AS jac FROM (
             SELECT a.doc_id AS i, b.doc_id AS j,
               len(list_intersect(a.sh, b.sh))::double /
               len(list_distinct(list_concat(a.sh, b.sh)))::double AS jac
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             WHERE len(list_intersect(a.sh, b.sh)) > 0)
           WHERE jac >= 0.3)
       ${leg("0.3")} UNION ALL ${leg("0.5")} UNION ALL ${leg("0.8")}
       ORDER BY threshold"""
    },
    // d16: same corpus/base pair CTEs as d13; the S-curve per layout
    // is replayed with the IDENTICAL left-assoc multiplication chains
    // (never pow — libm is not cross-engine bit-stable), per-pair
    // floor-micro, integer-div means
    "d16_lsh_layout_sweep" ->
      s"""$sweepPairsCte $layoutSweepLegs ORDER BY rows_per_band""",
    // d17: the layout lshLayoutOf actually SERVES — the designer's
    // decision rule (least leak among layouts whose WORST true pair
    // still captures ≥ 0.999 — min, not d16's published mean, because
    // d3's contract is per-pair; none qualifying → the widest)
    // replayed over the same measured pair table. A drifted rule or a
    // stale parked layout hash-mismatches.
    "d17_lsh_layout_choice" ->
      s"""$sweepPairsCte, sweep AS ($layoutChoiceLegs)
       SELECT bands, rows_per_band FROM sweep
       ORDER BY (CASE WHEN min_recall_micro >= 999000 THEN 0 ELSE 1 END),
         (CASE WHEN min_recall_micro >= 999000
               THEN fp_micro ELSE rows_per_band END),
         rows_per_band
       LIMIT 1""",
    // arr37: the CALL surface end-to-end — the artifact the procedure
    // parks must hold exactly the measured pair set (count replayed),
    // and a repeat CALL must return the SAME path (warm reuse, no
    // rebuild) — a procedure that re-parked per call would flip
    // stable_path.
    "arr37_pair_index_call" ->
      s"""$sweepPairsCte
       SELECT count(*)::bigint AS n_pairs, true AS stable_path FROM base""",
    // d11: the oracle is the EXACT membership answer — a Bloom false
    // negative on the Spark side would publish is_dup=false for a true
    // duplicate and hash-mismatch here, so the comparison verifies the
    // filter's no-false-negative guarantee, not just the join. Shared
    // verbatim with st12 (one stream, one batch, one contract).
    "d11_bloom_dedup" -> bloomMembershipSql,
    // d7: exact all-pairs directional containment (oracle-side O(n²)
    // is fine at sf0.01); shared counted over the same distinct
    // shingle sets, ONE division, round(6) on both engines
    "d7_containment" ->
      s"""WITH sh AS ($shingleSql),
         s2 AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
         p AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             len(list_intersect(a.sh, b.sh))::bigint AS shared,
             len(a.sh)::bigint AS ni
           FROM s2 a JOIN s2 b ON a.doc_id <> b.doc_id)
       SELECT contained_id, container_id, shared,
         round(shared::double / ni, 6) AS containment
       FROM p WHERE shared::double / ni >= 0.8
       ORDER BY contained_id, container_id""",
    "d6_span_dup" ->
      """WITH w AS (SELECT doc_id, list_distinct(
           [array_to_string(list_slice(toks, i, i + 31), ' ')
            for i in range(1, len(toks) - 30)]) AS w
         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM documents))
       SELECT i, j, n_shared FROM (
         SELECT a.doc_id AS i, b.doc_id AS j,
           len(list_intersect(a.w, b.w))::bigint AS n_shared
         FROM w a JOIN w b ON a.doc_id < b.doc_id)
       WHERE n_shared > 0 ORDER BY i, j""",
    // d10: the same window/coverage math, independently in DuckDB —
    // stride-1 50-token window md5s, duplicated = count >= 2 anywhere,
    // per-doc interval union of [pos, pos+50) via the sorted-starts
    // fold (all-integer arithmetic, exact)
    "d10_substring_dedup" ->
      """WITH t AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks FROM documents),
         w AS (SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i+1 : i+50], ' ')) AS wh
           FROM t, unnest(range(0, greatest(len(toks) - 49, 0))) AS u(i)),
         d AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
         s AS (SELECT doc_id, list_sort(list(pos)) AS ss,
             count(*)::bigint AS n_dup_windows
           FROM w JOIN d USING (wh) GROUP BY doc_id)
       SELECT t.doc_id, len(t.toks)::bigint AS n_tokens,
         coalesce(s.n_dup_windows, 0)::bigint AS n_dup_windows,
         coalesce(50 + list_sum(
             [least(ss[i+1] - ss[i], 50) for i in range(1, len(ss))]),
           CASE WHEN s.doc_id IS NULL THEN 0 ELSE 50 END)::bigint
           AS dup_cover
       FROM t LEFT JOIN s USING (doc_id) ORDER BY t.doc_id""",
    // d8: the t17 fingerprint CTE (rightmost-min windows over
    // positional 5-gram hash60s), distinct per doc, hot fingerprints
    // (df > max(50, n/100)) dropped, self-joined, >= 2 shared
    "d8_winnow_dup" ->
      """WITH tk AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         hsrc AS (SELECT doc_id,
             [('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::bigint
              for i in range(1, len(toks) - 5 + 2)] AS hs
           FROM tk WHERE len(toks) >= 5),
         w AS (SELECT doc_id,
             unnest([{p: i + 8 - list_position(list_reverse(hs[i:i+7]),
                                               list_min(hs[i:i+7])),
                      h: list_min(hs[i:i+7])}
                     for i in range(1, len(hs) - 8 + 2)]) AS u
           FROM hsrc),
         fp AS (SELECT DISTINCT doc_id, (u).h AS fp FROM w),
         hot AS (SELECT fp FROM fp GROUP BY fp
           HAVING count(*) > greatest(50,
             (SELECT count(*) FROM documents) // 100)),
         f2 AS (SELECT doc_id, fp FROM fp
           WHERE fp NOT IN (SELECT fp FROM hot))
       SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
       FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY i, j""",
    // d9: exact O(n²) char-5-gram Jaccard replay (the capped index is
    // candidate generation only; surfaced pairs are scored on full
    // distinct gram sets, so the exact all-pairs answer is the oracle)
    "d9_char_ngram" ->
      """WITH s AS (SELECT doc_id,
             list_distinct([substr(s0, i, 5)
                            for i in range(1, greatest(len(s0) - 4, 0) + 1)]) AS g
           FROM (SELECT doc_id,
                   regexp_replace(lower(text), '[ \t\n\r\f]', '', 'g') AS s0
                 FROM documents)),
         s2 AS (SELECT doc_id, g FROM s WHERE len(g) > 0)
       SELECT a.doc_id AS i, b.doc_id AS j,
         round(len(list_intersect(a.g, b.g))::double /
               len(list_distinct(a.g || b.g)), 6) AS jac
       FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.g, b.g))::double /
             len(list_distinct(a.g || b.g)) >= 0.8
       ORDER BY i, j""",
    "d4_simhash_pairs" ->
      """WITH sig AS (
         SELECT doc_id,
           list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END
                                         for h in hashes]) > 0
                          THEN (1::bigint << j) ELSE 0::bigint END
                     for j in range(0, 60)])::bigint AS sim
         FROM (SELECT doc_id,
           [('0x' || substr(md5(t), 1, 15))::bigint
            for t in string_split_regex(trim(text), '\s+')] AS hashes
           FROM documents))
       SELECT a.doc_id AS i, b.doc_id AS j,
         bit_count(xor(a.sim, b.sim))::bigint AS hamming
       FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sim, b.sim)) <= 6
       ORDER BY i, j"""
  )
}
