package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` — exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * The reference engine has no dedup surface at all (its only keyed
  * operator is the running reduce, `StreamGroupedReduce.java:35`); these are
  * the LLM-pipeline operators the north star adds. Every variant is built
  * from engine-portable primitives (md5 hex strings, integer bit math,
  * exact decimal folds) so the DuckDB oracle reproduces results
  * bit-for-bit.
  *
  * Scale design (100 TB):
  *  - exact dedup = hash-groupBy: one shuffle on the 128-bit digest, no
  *    driver state.
  *  - MinHash+LSH: shingle explode → per-doc signature (map-side combinable
  *    min() aggregates) → band-bucket self-join. The candidate join is on
  *    (band, bucket-hash) — only colliding docs meet, never O(n²).
  *  - SimHash: same banding trick on 8-bit signature bytes (pigeonhole: any
  *    pair within hamming ≤ 3 of a 32-bit sig shares one of 4 bands).
  *  - brute-force variants (ngram, cosine) are the correctness baselines
  *    the LSH paths are validated against; they carry the O(n²) warning and
  *    a cheap-prefilter + exact-confirm structure so the expensive exact
  *    fold only runs on plausible pairs.
  */
object DedupQueries {

  // ---------- shared text primitives (exactly mirrored in the oracle SQL)

  /** Lowercased word tokens with empties dropped. */
  private def words(c: Column): Column =
    filter(split(lower(c), "\\W+"), w => w =!= "")

  private val WORDS_SQL =
    raw"list_filter(string_split_regex(lower(text), '\W+'), w -> w <> '')"

  /** DuckDB mirror of the shingling: 1-based inclusive slices, range end
    * exclusive. (The Spark side computes the same set natively in one
    * pass — GraftExpressions.shingleHashes.) */
  private val SHINGLES_SQL =
    "list_distinct(list_transform(range(1, len(ws) - 1), " +
      "i -> array_to_string(ws[i:i+2], ' ')))"

  /** 60-bit shingle hash (first 15 hex chars of md5 as an integer) —
    * identical on both engines; DuckDB's CAST('0x'||hex AS BIGINT) ≡ the
    * native ShingleHashes digest prefix. Hashing each shingle ONCE per
    * document turns the per-PAIR Jaccard in the O(n²) baselines into a
    * primitive merge over sorted longs (SortedLongJaccard) instead of a
    * HashSet build over long strings. Collisions (~n²/2^61) would fold
    * two shingles — deterministically, identically, on both engines. */
  private val HSH_SQL =
    "list_sort(list_distinct(list_transform(shingles, " +
      "s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))))"

  /** Per-doc distinct shingle sets + sorted hashed sets, shared subquery. */
  private val SH_SQL =
    s"(SELECT doc_id, shingles, $HSH_SQL AS hsh FROM " +
      s"(SELECT doc_id, $SHINGLES_SQL AS shingles FROM " +
      s"(SELECT doc_id, $WORDS_SQL AS ws FROM documents)))"

  /** Per-doc shingle sets. The repartition matters: `documents` is a
    * single small parquet file → one input partition, and every
    * pair-generating join downstream (BroadcastNestedLoopJoin for the
    * non-equi baselines) parallelizes by STREAM-side partitions — without
    * this, all O(n²) work lands on one core. At 100 TB the scan has
    * thousands of natural splits and this becomes a no-op shuffle of the
    * slim (doc_id, shingles) projection. */
  // Note the string `shingles` column is dropped: every Spark-side
  // consumer works over the hashed sets only (the oracle SQL keeps its
  // shingles alias for readability), and carrying 50+ chars × 50 shingles
  // per doc through the shuffle + cache would cost more than the hash
  // computation it feeds.
  //
  // Memoized + eagerly materialized (localCheckpoint), because this is the
  // shared input of every dedup query and its subplan would otherwise
  // appear up to SIX times per query (union band branches × self-join
  // sides). Three separate pathologies, all measured at sf0.1:
  //   1. AQE exchange reuse does not reliably collapse the copies on first
  //      execution → the interpreted HOF pipeline ran 6× (37.6s vs 5.1s).
  //   2. A persist() fixes 1 only after it's populated — concurrently
  //      submitted stages all miss and recompute.
  //   3. Even a populated cache leaves the giant lambda expression trees
  //      in every downstream plan, and per-action canonicalization /
  //      cache-lookup cost on those trees dominates (wall 5.9s vs 384ms
  //      of task time in one measured round).
  // localCheckpoint truncates the plan to the materialized RDD, killing
  // all three. On a cluster the equivalent is writing the hashed-shingle
  // table to storage once per corpus — the first step of every production
  // dedup pipeline — so the single-node shortcut mirrors the real design.
  // INVARIANT (ADVICE r2): keyed by (session, dir), never evicted (see
  // [[Memo]]) — each sf dir's parquet is immutable within one process.
  private val shingleCache = new Memo[(SparkSession, String), DataFrame]

  // Memoized LSH band table for the embedding near-dup path: slim
  // (vec_id, band, bk) longs, 8 rows per vector, derived from the
  // memoized vector corpus. Without it every invocation (bench reps ×
  // both join sides) re-runs the interpreted 32-bit signature fold; the
  // checkpoint also pins the subtree so the self-join references ONE
  // materialization instead of recomputing per side.
  private val bandCache = new Memo[(SparkSession, String), DataFrame]

  /** Min-label propagation over a SYMMETRIC edge table (a, b) → one
    * (id, lab) row per node, lab = min node id in the component.
    *
    * One equi-join per round plus, from round 3 on, a pointer-jumping
    * shortcut (lab ← lab(lab), one more equi-join): edge propagation
    * alone needs component-DIAMETER rounds; the label-of-label doubling
    * cuts long chains to ~log(diameter) — and at 100 TB round count is
    * the driver-side critical path. The shortcut is DEFERRED because the
    * near-dup graphs this engine sees converge in ~2 rounds (measured at
    * sf0.1: tiny star components; unconditional jumping only added a
    * join+checkpoint per round for nothing) — short-diameter graphs pay
    * zero, genuine chains go logarithmic (asserted by spec on a
    * 200-node chain). lab(lab) is always defined: lab values are node
    * ids and `propagated` keys every node. Shortcut steps can't invent
    * cross-component labels — lab(v) stays a node in v's component — so
    * the fixpoint is the same component-min labeling; stopping when a
    * COMBINED round leaves the label sum unchanged implies the propagate
    * step alone changed nothing (each step is monotone non-increasing),
    * i.e. true convergence.
    *
    * localCheckpoint each round TRUNCATES LINEAGE — without it every
    * round's logical plan nests all previous rounds' plans and
    * per-action planning cost dwarfs the task work (measured 5s/round on
    * a 254-edge graph). LAZY since r15: the round's convergence
    * aggregate is the materializer, so the eager count job per frame —
    * pure fixed cost at this scale — is gone while the truncation
    * stays. Cluster equivalent: checkpoint to reliable storage every
    * few rounds, as GraphX's connectedComponents does.
    * Returns (labels, rounds). */
  private[graft] def minLabelPropagate(edges: DataFrame): (DataFrame, Int) = {
    var labels = Scratch.checkpointLazy(
      edges.select(col("a").as("id")).distinct()
        .select(col("id"), col("id").as("lab")))
    // convergence via the label-sum invariant: per-node min-propagation
    // is monotone non-increasing, so the total strictly decreases every
    // round until fixpoint — one scalar aggregate per round, no diff join
    var prevSum = Long.MaxValue
    var converged = false
    var round = 0
    while (!converged) {
      round += 1
      val propagated = Scratch.checkpointLazy(labels
        .join(edges, col("id") === col("a"))
        .select(col("b").as("id"), col("lab"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("lab")).as("lab")))
      val next =
        if (round < 3) propagated
        else Scratch.checkpointLazy(propagated
          // renamed right side: a plain .as() self-join of the same
          // checkpointed plan leaves both sides with identical attribute
          // ids, which the analyzer can't disambiguate
          .join(propagated.select(col("id").as("jid"), col("lab").as("jlab")),
            col("lab") === col("jid"))
          .select(col("id"), col("jlab").as("lab")))
      val s = Option(next.agg(sum(col("lab"))).first().get(0))
        .fold(0L)(_.asInstanceOf[Long]) // null when the edge set is empty
      labels = next
      converged = s == prevSum
      prevSum = s
    }
    (labels, round)
  }

  private def shingleDf(spark: SparkSession, dir: String): DataFrame =
    shingleCache((spark, dir))(
      Tables(spark, dir).documents
        // native digest loop (ShingleHashes) ≡ the oracle's HSH_SQL:
        // sort(distinct(md5-prefix hash)) over the distinct 3-word shingles
        .select(col("doc_id"),
          call_function("shingle_hashes", words(col("text")), lit(3)).as("hsh"))
        // The shuffle AFTER the shingle projection is load-bearing twice
        // over: (a) it spreads downstream per-pair work across all cores
        // (the single small parquet file scans as one partition, and
        // nested-loop joins parallelize by stream-side partitions);
        // (b) it MATERIALIZES the computed shingle arrays — left inside the
        // join's codegen, deferred evaluation would recompute the whole
        // transform-distinct pipeline once per PAIR instead of once per doc.
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .localCheckpoint())

  /** Exact Jaccard over the hashed shingle sets — integer counts, one
    * IEEE division: engine-identical. Uses graft's native
    * SortedLongJaccard (two-pointer merge over the per-doc sorted hash
    * arrays, codegen'd) rather than array_intersect/array_union, which
    * build hash sets and materialize result arrays once per PAIR. */
  private def jaccard(a: Column, b: Column): Column =
    call_function("array_jaccard_sorted", a, b)

  private val JACCARD_SQL =
    "CAST(len(list_intersect(x.hsh, y.hsh)) AS DOUBLE) / " +
      "CAST(len(list_distinct(list_concat(x.hsh, y.hsh))) AS DOUBLE)"

  // ---------- integer MinHash family over the 60-bit shingle hashes
  //
  // g_i(h) = (a_i * (h mod P) + b_i) mod P with P = 2^31-1: a standard
  // universal min-wise family. Integer-only — the per-shingle string
  // hashing this replaces (3 md5 calls per exploded shingle) dominated
  // the signature stage. All products stay < 2^62, so BIGINT arithmetic
  // is overflow-free and identical on both engines.
  private val P = 2147483647L
  private val HA = Seq(1103515245L, 1229782938L, 1352829889L, 1478392013L,
    1597334677L, 1719413123L, 1837465921L, 1955782945L, 2071623429L)
  private val HB = Seq(12345L, 67891L, 24680L, 13579L, 97531L,
    86420L, 11111L, 55555L, 99999L)

  /** Oracle CTE prefix: shingle sets → signatures → 3 LSH bands of 3
    * rows. Shared by every MinHash-family oracle (pair dedup, clusters,
    * canonical election, incremental). */
  private val MINHASH_BANDS_SQL = {
    val mins = (0 until 9)
      .map(i => s"min((${HA(i)} * h + ${HB(i)}) % $P) AS h$i").mkString(", ")
    s"""sh AS (SELECT doc_id, hsh FROM $SH_SQL sh0),
       |ex AS (SELECT doc_id, unnest(hsh) % $P AS h FROM sh),
       |sig AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, concat_ws('|', h0, h1, h2) AS bk FROM sig
       |  UNION ALL SELECT doc_id, 1, concat_ws('|', h3, h4, h5) FROM sig
       |  UNION ALL SELECT doc_id, 2, concat_ws('|', h6, h7, h8) FROM sig)""".stripMargin
  }

  /** Shared oracle CTE chain: bands prefix + all-pairs candidates.
    * Used by the minhash / clusters / canonical oracles. */
  private val MINHASH_CTES_SQL =
    s"""$MINHASH_BANDS_SQL,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin

  /** Spark-side mirror of MINHASH_BANDS_SQL: per-doc MinHash(9)
    * signature → 3 band rows of (doc_id, band, bk). The signature table
    * feeds 3 band branches × both join sides of every consumer; eagerly
    * materialized for the same reason as shingleDf (16 B × 9 per doc —
    * the signature table a cluster pipeline would write out).
    * Gate-private → Scratch-tracked, freed after the gate's action. */
  private def minhashBands(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleDf(spark, dir).select(col("doc_id"), col("hsh"))
    val ex = sh.select(col("doc_id"), explode(col("hsh")).as("h0"))
      .select(col("doc_id"), (col("h0") % P).as("h"))
    val hashCols = (0 until 9).map { i =>
      min((lit(HA(i)) * col("h") + lit(HB(i))) % P).as(s"h$i")
    }
    val sig = Scratch.checkpointLazy(ex.groupBy(col("doc_id"))
      .agg(hashCols.head, hashCols.tail: _*))
    (0 until 3).map { b =>
      sig.select(
        col("doc_id"), lit(b).as("band"),
        concat_ws("|", col(s"h${3 * b}"), col(s"h${3 * b + 1}"),
          col(s"h${3 * b + 2}")).as("bk"))
    }.reduce(_ union _)
  }

  /** Content-defined chunker (q_dedup_cdc_chunks' core): boundaries
    * wherever the positional 4-gram hash ≡ 0 (mod 16). Input
    * (doc_id, ws: array<string>); output (doc_id, chunk, fp, n_tok).
    * Exposed so PropertySpec can pin the insertion-robustness law. */
  private[graft] def cdcChunks(toksIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = toksIn.filter(size(col("ws")) >= 1)
    val w = toks.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("pos", "w")))
    val bounds = toks.filter(size(col("ws")) >= 4)
      .select(col("doc_id"),
        posexplode(expr("gram_hashes(ws, 4)")).as(Seq("pos", "h")))
      .filter(col("pos") >= 1 && col("h") % 16 === 0)
      .select(col("doc_id"), col("pos"), lit(1).as("f"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w.join(bounds, Seq("doc_id", "pos"), "left")
      .withColumn("chunk", sum(coalesce(col("f"), lit(0))).over(byPos))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ").cast("binary")).as("fp"),
        count(lit(1)).as("n_tok"))
  }

  val all: Map[String, GraftQuery] = Map(

    // ---- exact dedup: hash-groupBy on the normalized content digest.
    // One shuffle on md5(norm text); survivors = min doc_id per group.
    "q_dedup_exact" -> GraftQuery.sql(
      "exact dedup: group by md5(normalized text), canonical = min doc_id",
      s"""SELECT doc_id, canonical_id, group_size FROM (
         |  SELECT doc_id,
         |    MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
         |    COUNT(*) OVER (PARTITION BY fp) AS group_size
         |  FROM (SELECT doc_id,
         |          md5(array_to_string($WORDS_SQL, ' ')) AS fp
         |        FROM documents))""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byFp = Window.partitionBy(col("fp"))
      Tables(spark, dir).documents
        .select(col("doc_id"), md5(array_join(words(col("text")), " ")).as("fp"))
        .select(
          col("doc_id"),
          min(col("doc_id")).over(byFp).as("canonical_id"),
          count(lit(1)).over(byFp).as("group_size"))
    },

    // ---- chunk-level exact dedup (the line/paragraph-dedup analog for
    // whitespace-only corpora, C4-style): each doc splits into
    // consecutive 16-token blocks; a block seen before (global keep-first
    // by (doc_id, chunk_id)) is dropped and the doc is reassembled from
    // its surviving blocks. Two shuffles, both key-partitioned: rank on
    // the block digest (slim md5 key — the 16-word text rides along only
    // because reassembly needs it on the NEXT shuffle anyway), then
    // groupBy doc_id to rebuild. collect_list skips the nulls that
    // non-kept chunks leave behind, so reassembly is one conditional
    // aggregate, not a second join. At 100 TB this is the same plan:
    // explode is narrow, both exchanges hash-partition on high-cardinality
    // keys, AQE splits any hot block (e.g. boilerplate headers).
    "q_dedup_chunks" -> GraftQuery.sql(
      "chunk-level dedup: 16-token blocks, global keep-first, doc reassembly",
      s"""WITH w AS (SELECT doc_id, $WORDS_SQL AS ws FROM documents),
         |ix AS (SELECT doc_id, ws,
         |         unnest(range(CAST(ceil(len(ws) / 16.0) AS BIGINT))) AS chunk_id
         |       FROM w WHERE len(ws) >= 1),
         |ch AS (SELECT doc_id, chunk_id,
         |         array_to_string(ws[chunk_id*16 + 1 : chunk_id*16 + 16], ' ') AS chunk
         |       FROM ix),
         |rk AS (SELECT doc_id, chunk_id, chunk,
         |         row_number() OVER (PARTITION BY md5(chunk)
         |                            ORDER BY doc_id, chunk_id) AS rn
         |       FROM ch)
         |SELECT doc_id,
         |  COUNT(*) AS n_chunks,
         |  COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
         |  COALESCE(string_agg(chunk, ' ' ORDER BY chunk_id)
         |             FILTER (WHERE rn = 1), '') AS clean_text
         |FROM rk GROUP BY doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ch = Tables(spark, dir).documents
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0L), floor((size(col("ws")) - 1) / 16).cast("long")))
            .as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          array_join(slice(col("ws"), (col("chunk_id") * 16 + 1).cast("int"), lit(16)), " ")
            .as("chunk"))
      val byBlock = Window.partitionBy(md5(col("chunk").cast("binary")))
        .orderBy(col("doc_id"), col("chunk_id"))
      ch.withColumn("rn", row_number().over(byBlock))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_chunks"),
          count(when(col("rn") === 1, 1)).as("n_kept"),
          coalesce(
            array_join(transform(
              array_sort(collect_list(when(col("rn") === 1,
                struct(col("chunk_id"), col("chunk"))))),
              s => s.getField("chunk")), " "),
            lit("")).as("clean_text"))
    },

    // ---- CONTENT-DEFINED chunking (the rsync/LBFS boundary trick):
    // chunk boundaries are declared wherever the positional 4-gram hash
    // ≡ 0 (mod 16) — a function of local CONTENT, not offsets — so an
    // insertion near a doc's head shifts only the chunks it touches and
    // every later chunk keeps its fingerprint, where q_dedup_chunks'
    // fixed 16-token blocks would re-slice (and re-hash) the whole tail.
    // That is what makes chunk-level dedup work on re-crawled /
    // lightly-edited corpora. Plan shape: gram hashes from the native
    // one-digest gram_hashes loop, boundary flags join the positional
    // word list by (doc_id, pos), chunk ids are one per-doc cumulative
    // window, and duplicate detection is a fingerprint groupBy — keyed
    // and linear end to end, nothing pairwise.
    // (chunker extracted as [[cdcChunks]] so PropertySpec can pin the
    // insertion-robustness law on controlled inputs)
    "q_dedup_cdc_chunks" -> GraftQuery.sql(
      "content-defined chunking: 4-gram-hash boundaries, cross-doc duplicate chunks",
      s"""WITH toks AS (SELECT doc_id, $WORDS_SQL AS ws FROM documents),
         |t AS (SELECT doc_id, ws FROM toks WHERE len(ws) >= 1),
         |w AS (SELECT doc_id, i - 1 AS pos, ws[CAST(i AS INT)] AS w
         |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |            FROM t)),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |        CAST(concat('0x', substr(md5(array_to_string(ws[i:i+3], ' ')),
         |          1, 15)) AS BIGINT) AS h
         |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 2)) AS i
         |            FROM t WHERE len(ws) >= 4)),
         |b AS (SELECT doc_id, pos FROM g WHERE pos >= 1 AND h % 16 = 0),
         |wf AS (SELECT w.doc_id, w.pos, w.w,
         |         CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END AS f
         |       FROM w LEFT JOIN b ON b.doc_id = w.doc_id AND b.pos = w.pos),
         |wk AS (SELECT doc_id, pos, w,
         |         SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS UNBOUNDED PRECEDING) AS chunk
         |       FROM wf),
         |ch AS (SELECT doc_id, chunk,
         |         md5(string_agg(w, ' ' ORDER BY pos)) AS fp,
         |         COUNT(*) AS n_tok
         |       FROM wk GROUP BY doc_id, chunk),
         |dup AS (SELECT fp FROM ch GROUP BY fp HAVING COUNT(*) >= 2)
         |SELECT c.doc_id, COUNT(*) AS n_chunks,
         |  COUNT(d.fp) AS n_dup_chunks,
         |  CAST(SUM(c.n_tok) AS BIGINT) AS n_tokens
         |FROM ch c LEFT JOIN dup d ON d.fp = c.fp
         |GROUP BY c.doc_id""".stripMargin) { (spark, dir) =>
      val chunks = cdcChunks(Tables(spark, dir).documents
        .select(col("doc_id"), words(col("text")).as("ws")))
      val dup = chunks.groupBy(col("fp"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
        .select(col("fp"), lit(1).as("isdup"))
      chunks.join(dup, Seq("fp"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count(col("isdup")).as("n_dup_chunks"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
    },

    // ---- MinHash + LSH: k=9 signature (universal integer hashes over
    // the per-doc 60-bit shingle hashes), 3 bands × 3 rows; candidates
    // share a band key; exact Jaccard confirms ≥ 0.5.
    "q_dedup_minhash" -> GraftQuery.sql(
      "MinHash(9) + LSH(3 bands of 3) near-dup pairs, Jaccard-confirmed",
      s"""WITH $MINHASH_CTES_SQL
         |SELECT doc_a, doc_b, jac FROM (
         |  SELECT doc_a, doc_b, $JACCARD_SQL AS jac
         |  FROM cand JOIN sh x ON x.doc_id = doc_a
         |            JOIN sh y ON y.doc_id = doc_b)
         |WHERE jac >= 0.5""".stripMargin) { (spark, dir) =>
      val sh = shingleDf(spark, dir).select(col("doc_id"), col("hsh"))
      val bands = minhashBands(spark, dir)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(sh.as("x"), col("doc_a") === col("x.doc_id"))
        .join(sh.as("y"), col("doc_b") === col("y.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          jaccard(col("x.hsh"), col("y.hsh")).as("jac"))
        .filter(col("jac") >= 0.5)
    },

    // ---- n-gram Jaccard, brute force: the exact baseline the LSH variant
    // is validated against. O(n²) by design, so it runs on a
    // deterministic half-sample (even doc_ids) — the LSH query above is
    // the full-corpus path; this one exists to validate it.
    //
    // Both predicates live IN the join condition, cheap one first: a
    // trailing .filter(jac >= 0.3) gets pushed into the BNLJ condition
    // anyway, but PREPENDED — which made the Jaccard run before the
    // doc_id< check, on every one of the n² ordered pairs, and then a
    // second time in the output Project. Stated explicitly, the short-
    // circuit skips half the pairs and the Project's recompute only
    // touches the handful of surviving rows.
    "q_dedup_ngram" -> GraftQuery.sql(
      "sampled all-pairs 3-gram Jaccard ≥ 0.3 (exact baseline for the LSH path)",
      s"""SELECT doc_a, doc_b, jac FROM (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, $JACCARD_SQL AS jac
         |  FROM $SH_SQL x JOIN $SH_SQL y ON x.doc_id < y.doc_id
         |  WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 0)
         |WHERE jac >= 0.3""".stripMargin) { (spark, dir) =>
      val sh = shingleDf(spark, dir).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("hsh"))
      sh.as("x").join(sh.as("y"),
          col("x.doc_id") < col("y.doc_id") &&
            jaccard(col("x.hsh"), col("y.hsh")) >= 0.3)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          jaccard(col("x.hsh"), col("y.hsh")).as("jac"))
    },

    // ---- SimHash: 32-bit signature from the parity of md5 hex digits of
    // each shingle; candidate pairs share one of four 8-bit bands
    // (pigeonhole covers hamming ≤ 3 exactly; ham = 4 pairs are found iff
    // their differing bits cluster — standard SimHash-LSH semantics, and
    // deterministic on both engines).
    // The per-bit vote is a per-doc aggregate: bit b of a shingle's
    // 60-bit hash votes ±1 on bit b of the signature. All 32 bit-votes
    // fold as 32 conditional-sum agg columns in ONE groupBy over the
    // exploded integer hashes — no per-shingle string hashing at all
    // (the hsh column is already computed once per document), no
    // (shingle × 32 bit-positions) row explosion, and map-side partial
    // aggregation stays intact.
    "q_dedup_simhash" -> GraftQuery.sql(
      "SimHash(32) + 4×8-bit band LSH, pairs within hamming ≤ 4",
      {
        val votes = (0 until 32).map { b =>
          s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
        }.mkString(", ")
        val sigExpr = (0 until 32)
          .map(b => s"(CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0 END)")
          .mkString(" + ")
        s"""WITH ex AS (
           |  SELECT doc_id, unnest(hsh) AS h FROM $SH_SQL sh0),
           |votes AS (
           |  SELECT doc_id, $votes FROM ex GROUP BY doc_id),
           |sig AS (
           |  SELECT doc_id, $sigExpr AS simhash FROM votes),
           |bands AS (
           |  SELECT doc_id, simhash, b AS band,
           |    (simhash >> (8 * b)) & 255 AS bk
           |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) pos),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    a.simhash AS sig_a, b.simhash AS sig_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, ham FROM (
           |  SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS ham FROM cand)
           |WHERE ham <= 4""".stripMargin
      }) { (spark, dir) =>
      val ex = shingleDf(spark, dir)
        .select(col("doc_id"), explode(col("hsh")).as("h"))
      val voteCols = (0 until 32).map { b =>
        sum(expr(
          s"CASE WHEN (shiftright(h, $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"v$b")
      }
      val votes = ex.groupBy(col("doc_id"))
        .agg(voteCols.head, voteCols.tail: _*)
      val sig = Scratch.checkpointLazy(votes.select(col("doc_id"),
        expr((0 until 32)
          .map(b => s"(CASE WHEN v$b > 0 THEN shiftleft(CAST(1 AS BIGINT), $b) " +
            "ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ")).as("simhash")))
        // 4 band branches × 2 join sides read this 12-byte-per-doc table;
        // gate-private → Scratch-tracked
      val bands = sig
        .select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .select(col("doc_id"), col("simhash"), col("band"),
          expr("shiftright(simhash, CAST(band AS INT) * 8) & CAST(255 AS BIGINT)").as("bk"))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
        .distinct()
      cand
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("ham"))
        .filter(col("ham") <= 4)
    },

    // ---- duplicate-cluster assignment: connected components over the
    // MinHash-LSH dup pairs (a dedup pipeline's final step — pairs alone
    // under-merge transitive groups A~B~C). Spark side: iterative min-label
    // propagation, one equi-join per round, rounds ≤ component diameter
    // (the driver loop reads ONE scalar per round for convergence — no
    // data collects). Oracle: recursive CTE computing min reachable id.
    "q_dedup_clusters" -> GraftQuery.sql(
      "connected components over LSH dup pairs: doc -> canonical id",
      {
        s"""WITH RECURSIVE $MINHASH_CTES_SQL,
           |pairs AS (
           |  SELECT doc_a, doc_b FROM cand
           |  JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
           |  WHERE $JACCARD_SQL >= 0.5),
           |edges AS (
           |  SELECT doc_a AS a, doc_b AS b FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |nodes AS (SELECT DISTINCT a AS id FROM edges),
           |reach(id, lab) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id)
           |SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id""".stripMargin
      }) { (spark, dir) =>
      // the dup-pair graph is orders of magnitude smaller than the corpus
      // (only near-duplicates appear); coalescing the iteration frames to
      // a few partitions cuts per-round scheduling cost without touching
      // the heavy candidate-generation stage above.
      val pairs = Scratch.checkpointLazy(all("q_dedup_minhash").run(spark, dir)
        .select(col("doc_a"), col("doc_b"))
        .coalesce(4))
      GraftQuery.withShufflePartitions(spark, 4) {
        val edges = Scratch.checkpointLazy(pairs
          .union(pairs.select(col("doc_b"), col("doc_a")))
          .toDF("a", "b"))
        val (labels, _) = minLabelPropagate(edges)
        labels.select(col("id").as("doc_id"), col("lab").as("cluster_id"))
      }
    },

    // ---- canonical selection by QUALITY: production dedup does not keep
    // the min-id member of a dup cluster — it keeps the best one. On top
    // of the cluster labeling, rank members by token count (desc, id
    // tiebreak) and elect rank 1 as the cluster's canonical; every member
    // row reports its canonical and whether it survives. The ranking is
    // a per-cluster window over the (tiny) dup-graph nodes joined to a
    // narrow per-doc token count — at 100 TB the corpus-side cost is the
    // same one labeling pass as q_dedup_clusters; the election adds one
    // window over the labeled members only (orders of magnitude fewer
    // rows than the corpus). The canonical itself is first_value over
    // that same ordered window — NOT a rank-1 self-join — so the
    // election is join-free: with billions of clusters there is no
    // per-cluster frame to broadcast or re-shuffle (the r5 verdict's
    // broadcast(canon) scale nit), just one pass over the already
    // cluster_id-partitioned rows.
    "q_dedup_canonical" -> GraftQuery.sql(
      "dup clusters elect the highest-token member as canonical",
      s"""WITH RECURSIVE $MINHASH_CTES_SQL,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM cand
         |  JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
         |  WHERE $JACCARD_SQL >= 0.5),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(id, lab) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id),
         |labels AS (SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
         |ranked AS (
         |  SELECT l.doc_id, l.cluster_id,
         |    CAST(len($WORDS_SQL) AS BIGINT) AS n_tok,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |                       ORDER BY CAST(len($WORDS_SQL) AS BIGINT) DESC,
         |                                l.doc_id) AS rn
         |  FROM labels l JOIN documents USING (doc_id)),
         |canon AS (SELECT cluster_id, doc_id AS canonical_id
         |          FROM ranked WHERE rn = 1)
         |SELECT r.doc_id, r.cluster_id, c.canonical_id, r.n_tok,
         |  r.doc_id = c.canonical_id AS is_kept
         |FROM ranked r JOIN canon c USING (cluster_id)""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val labels = all("q_dedup_clusters").run(spark, dir)
      val tok = Tables(spark, dir).documents
        .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tok"))
      val byCluster = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_tok").desc, col("doc_id"))
      // default ordered-window frame (UNBOUNDED PRECEDING .. CURRENT ROW)
      // always contains the partition's first row, so first(doc_id) IS
      // the elected canonical on every member row — no rank-1 join back
      labels.join(tok, "doc_id")
        .withColumn("canonical_id", first(col("doc_id")).over(byCluster))
        .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
          col("n_tok"), (col("doc_id") === col("canonical_id")).as("is_kept"))
    },

    // ---- INCREMENTAL dedup: a production corpus is not deduped once —
    // every new crawl shard arrives against an existing corpus whose
    // fingerprint digests and MinHash band keys are already persisted.
    // Here "incoming" = doc_id % 4 = 0, "historical" = the rest; each
    // incoming doc is dropped if it exact-matches (normalized md5) or
    // near-matches (band collision + Jaccard ≥ 0.5) ANY historical doc,
    // and reports its match kind + the matched historical id. The
    // historical index is LITERAL: the gate writes the (digest, band,
    // shingle-set) index tables to parquet and the probe side READS
    // THEM BACK from disk — the same index a production pipeline builds
    // once per corpus generation and probes daily. At 100 TB both
    // probes are equi-joins of the (small) incoming shard against those
    // persisted tables — the corpus is never rescanned and never
    // self-joined, so probe cost scales with the SHARD, not the corpus.
    // (Incoming-vs-incoming dups are q_dedup_exact/minhash on the shard
    // alone; this gate is the cross-generation probe.)
    "q_dedup_incremental" -> GraftQuery.sql(
      "incoming shard (id%4=0) probed against historical exact + band index",
      s"""WITH $MINHASH_BANDS_SQL,
         |cand AS (
         |  SELECT DISTINCT i.doc_id AS new_id, h.doc_id AS old_id
         |  FROM bands i JOIN bands h ON i.band = h.band AND i.bk = h.bk
         |  WHERE i.doc_id % 4 = 0 AND h.doc_id % 4 <> 0),
         |near AS (
         |  SELECT new_id, MIN(old_id) AS near_id FROM (
         |    SELECT new_id, old_id FROM cand
         |    JOIN sh x ON x.doc_id = new_id JOIN sh y ON y.doc_id = old_id
         |    WHERE $JACCARD_SQL >= 0.5) GROUP BY new_id),
         |fp AS (SELECT doc_id, md5(array_to_string($WORDS_SQL, ' ')) AS fp
         |       FROM documents),
         |ex2 AS (
         |  SELECT n.doc_id AS new_id, MIN(h.doc_id) AS exact_id
         |  FROM fp n JOIN fp h ON n.fp = h.fp
         |  WHERE n.doc_id % 4 = 0 AND h.doc_id % 4 <> 0 GROUP BY n.doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
         |       WHEN nr.near_id IS NOT NULL THEN 'near' END AS match_kind,
         |  COALESCE(e.exact_id, nr.near_id) AS matched_id,
         |  (e.exact_id IS NULL AND nr.near_id IS NULL) AS is_kept
         |FROM documents d
         |LEFT JOIN ex2 e ON e.new_id = d.doc_id
         |LEFT JOIN near nr ON nr.new_id = d.doc_id
         |WHERE d.doc_id % 4 = 0""".stripMargin) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val sh = shingleDf(spark, dir).select(col("doc_id"), col("hsh"))
      val bands = minhashBands(spark, dir)
      val fp = docs.select(col("doc_id"),
        md5(array_join(words(col("text")), " ").cast("binary")).as("fp"))
      // build the persisted historical index (per corpus generation in
      // production; fresh scratch per gate run here), then probe FROM
      // DISK — the plans below scan these parquet paths, not the corpus
      val ixRoot = s"/tmp/graft-sources/dedupindex-${
        dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      bands.filter(col("doc_id") % 4 =!= 0)
        .write.mode("overwrite").parquet(s"$ixRoot/bands")
      fp.filter(col("doc_id") % 4 =!= 0)
        .write.mode("overwrite").parquet(s"$ixRoot/fp")
      sh.filter(col("doc_id") % 4 =!= 0)
        .write.mode("overwrite").parquet(s"$ixRoot/shingles")
      val ixBands = spark.read.parquet(s"$ixRoot/bands")
      val ixFp = spark.read.parquet(s"$ixRoot/fp")
      val ixSh = spark.read.parquet(s"$ixRoot/shingles")
      val cand = bands.filter(col("doc_id") % 4 === 0).as("i")
        .join(ixBands.as("h"),
          col("i.band") === col("h.band") && col("i.bk") === col("h.bk"))
        .select(col("i.doc_id").as("new_id"), col("h.doc_id").as("old_id"))
        .distinct()
      val near = cand
        .join(sh.as("x"), col("new_id") === col("x.doc_id"))
        .join(ixSh.as("y"), col("old_id") === col("y.doc_id"))
        .filter(jaccard(col("x.hsh"), col("y.hsh")) >= 0.5)
        .groupBy(col("new_id")).agg(min(col("old_id")).as("near_id"))
      val exact = fp.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("new_id"), col("fp"))
        .join(ixFp.select(col("doc_id").as("old_id"), col("fp")), "fp")
        .groupBy(col("new_id")).agg(min(col("old_id")).as("exact_id"))
      docs.filter(col("doc_id") % 4 === 0).select(col("doc_id"))
        .join(exact.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
        .join(near.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_id").isNotNull, "exact")
            .when(col("near_id").isNotNull, "near").as("match_kind"),
          coalesce(col("exact_id"), col("near_id")).as("matched_id"),
          (col("exact_id").isNull && col("near_id").isNull).as("is_kept"))
    },

    // ---- embedding-cosine near-dup, BRUTE-FORCE BASELINE: all-pairs
    // non-equi self-join (BroadcastNestedLoopJoin) — O(n²) pair generation
    // by design, kept as the exactness baseline the bucketed
    // q_dedup_embedding_lsh variant's recall is validated against (the
    // same baseline↔production pairing as q_dedup_ngram ↔ q_dedup_minhash).
    // Cheap double-fold prefilter at 0.44, exact decimal-fold confirm at
    // 0.45. The ≥ 0.01 margin dwarfs any cross-engine FP noise (< 1e-12),
    // so membership is engine-exact while the expensive exact fold runs
    // only on plausible pairs. Do NOT run this query at full corpus scale:
    // the production path is q_dedup_embedding_lsh below.
    "q_dedup_embedding" -> GraftQuery.sql(
      "all-pairs embedding cosine ≥ 0.45 (exactness baseline for the LSH path)",
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_reduce(list_transform(range(1, len(embedding) + 1),
         |      i -> CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
         |           AS DECIMAL(38,12))), (acc, x) -> acc + x) AS DOUBLE) AS norm2
         |  FROM embeddings),
         |pre AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    a.embedding AS ea, b.embedding AS eb,
         |    sqrt(a.norm2 * b.norm2) AS denom,
         |    list_reduce(list_transform(range(1, len(a.embedding) + 1),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
         |      (acc, x) -> acc + x) AS dot_approx
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id),
         |confirmed AS (
         |  SELECT vec_a, vec_b,
         |    CAST(list_reduce(list_transform(range(1, len(ea) + 1),
         |      i -> CAST(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)
         |           AS DECIMAL(38,12))), (acc, x) -> acc + x) AS DOUBLE) / denom AS cos
         |  FROM pre WHERE dot_approx / denom >= 0.44)
         |SELECT vec_a, vec_b, cos FROM confirmed WHERE cos >= 0.45""".stripMargin) { (spark, dir) =>
      // the memoized norm-augmented corpus shared with the q_sim_* family
      // (persisted with stats — a stats-less checkpoint would demote this
      // non-equi self-join from BroadcastNestedLoopJoin to CartesianProduct,
      // measured 5s → 23s)
      val v = SimilarityQueries.vectors(spark, dir)
      val pre = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(
          col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.embedding").as("ea"), col("b.embedding").as("eb"),
          sqrt(col("a.norm2") * col("b.norm2")).as("denom"),
          // native codegen'd strict left fold — same op order as the
          // oracle's list_reduce, but a primitive loop instead of the
          // interpreted aggregate/transform pipeline
          call_function("vector_dot", col("a.embedding"), col("b.embedding"))
            .as("dot_approx"))
      pre.filter(col("dot_approx") / col("denom") >= 0.44)
        .select(col("vec_a"), col("vec_b"),
          // native decimal-exact fold (GraftExpressions.dotDec) — same
          // value as the oracle's list_reduce(… DECIMAL(38,12)) per-product
          // quantization, ~50× cheaper than the interpreted HOF chain
          (expr("vector_dot_dec(ea, eb)") / col("denom")).as("cos"))
        .filter(col("cos") >= 0.45)
    },

    // ---- embedding-cosine near-dup, PRODUCTION PATH: candidate pairs
    // come from a banded signed-projection LSH signature (8 bands × 4
    // bits of the same training-free sign bits q_sim_lsh uses), so pair
    // generation is a shuffle EQUI-join on (band, bucket) — never a
    // BroadcastNestedLoopJoin, which would have to broadcast the whole
    // corpus to every executor and dies long before 100 TB. The banded
    // join shuffles slim (vec_id, band, bk) rows only; payloads join back
    // by vec_id AFTER candidate dedup; AQE splits hot buckets.
    //
    // Recall vs the all-pairs baseline above, measured at sf0.1:
    // 124/144 confirmed pairs = 86% with candidates cut to ~40% of all
    // pairs. The 0.45 cosine threshold is adversarially low for LSH
    // (θ ≈ 63°, per-bit agreement ~0.65 — barely above a random pair's
    // 0.5); at a production near-dup threshold (0.9+, per-bit ~0.86)
    // the same 8×4 scheme keeps >95% recall with far fewer candidates.
    // Band count/width are the recall↔cost dial, exactly like
    // q_dedup_minhash's 3×3 vs q_dedup_ngram.
    "q_dedup_embedding_lsh" -> GraftQuery.sql(
      "LSH-banded embedding cosine ≥ 0.45 (bucketed candidates, exact confirm)",
      s"""WITH v AS (SELECT * FROM ${SimilarityQueries.VECTORS_SQL} v0),
         |sig AS (
         |  SELECT vec_id,
         |    CAST(list_sum(list_transform(range(0, 32), i ->
         |      CASE WHEN CAST(embedding[2*i + 1] AS DOUBLE)
         |             > CAST(embedding[2*i + 2] AS DOUBLE)
         |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS s
         |  FROM v),
         |bands AS (
         |  SELECT vec_id, b AS band, (s >> (4 * b)) & 15 AS bk
         |  FROM sig CROSS JOIN (SELECT unnest(range(8)) AS b) pos),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id),
         |pre AS (
         |  SELECT vec_a, vec_b, x.embedding AS ea, y.embedding AS eb,
         |    sqrt(x.norm2 * y.norm2) AS denom,
         |    list_reduce(list_transform(range(1, len(x.embedding) + 1),
         |      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
         |      (acc, p) -> acc + p) AS dot_approx
         |  FROM cand JOIN v x ON x.vec_id = vec_a JOIN v y ON y.vec_id = vec_b),
         |confirmed AS (
         |  SELECT vec_a, vec_b,
         |    CAST(list_reduce(list_transform(range(1, len(ea) + 1),
         |      i -> CAST(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)
         |           AS DECIMAL(38,12))), (acc, x) -> acc + x) AS DOUBLE) / denom AS cos
         |  FROM pre WHERE dot_approx / denom >= 0.44)
         |SELECT vec_a, vec_b, cos FROM confirmed WHERE cos >= 0.45""".stripMargin) { (spark, dir) =>
      val v = SimilarityQueries.vectors(spark, dir)
      // 32 sign bits over disjoint dim pairs: bit i = sign(e[2i] − e[2i+1]).
      // Zero FP aggregation (each bit one comparison), so both engines
      // compute identical signatures — same family as q_sim_lsh's 8-bit
      // bucket, widened to 32 bits to feed 8 disjoint 4-bit bands.
      val sig32 = expr(
        """CAST(aggregate(sequence(0, 31), 0L, (acc, i) ->
          |  acc + CASE WHEN CAST(element_at(embedding, CAST(2*i + 1 AS INT)) AS DOUBLE)
          |               > CAST(element_at(embedding, CAST(2*i + 2 AS INT)) AS DOUBLE)
          |             THEN shiftleft(1L, CAST(i AS INT)) ELSE 0L END) AS BIGINT)""".stripMargin)
      val bands = bandCache((spark, dir))(v
        .select(col("vec_id"), sig32.as("s"))
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("band"), col("s"))
        .select(col("vec_id"), col("band"),
          expr("shiftright(s, CAST(band AS INT) * 4) & CAST(15 AS BIGINT)")
            .as("bk"))
        .localCheckpoint())
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      val pre = cand
        .join(v.as("x"), col("vec_a") === col("x.vec_id"))
        .join(v.as("y"), col("vec_b") === col("y.vec_id"))
        .select(col("vec_a"), col("vec_b"),
          col("x.embedding").as("ea"), col("y.embedding").as("eb"),
          sqrt(col("x.norm2") * col("y.norm2")).as("denom"),
          call_function("vector_dot", col("x.embedding"), col("y.embedding"))
            .as("dot_approx"))
      pre.filter(col("dot_approx") / col("denom") >= 0.44)
        .select(col("vec_a"), col("vec_b"),
          (expr("vector_dot_dec(ea, eb)") / col("denom")).as("cos"))
        .filter(col("cos") >= 0.45)
    },

    // ---- semantic dedup, SemDeDup-style (Abbas et al. 2023,
    // arXiv:2303.09540): cluster the corpus with a coarse quantizer, then
    // prune near-duplicates WITHIN each cluster only — the observation
    // being that semantic dups land in the same cluster, so the candidate
    // set is cell-local and pair generation is an equi-join on the cell
    // id, never a corpus self-pairing. A row is dropped when a smaller-id
    // cell-mate sits above the cosine threshold (keeper_id records the
    // smallest such survivor candidate); thresholds reuse the proven
    // 0.44-prefilter / 0.45-exact-confirm margin so membership is
    // engine-exact. 16 centroids mirror the q_sim_ivf family; at 100 TB
    // the cluster count scales with the corpus (SemDeDup used k ≈ 0.1%·n),
    // keeping cells bounded — the within-cell O(m²) is the method's knob,
    // and the assign pass stays a C-row broadcast against a narrow scan.
    "q_dedup_semantic" -> GraftQuery.sql(
      "SemDeDup: coarse-cluster then within-cell cosine ≥ 0.45 keep-min prune",
      s"""WITH v AS (SELECT * FROM ${SimilarityQueries.VECTORS_SQL} v0),
         |c0 AS (SELECT vec_id AS cent_id, embedding AS cemb, norm2 AS cnorm
         |       FROM v WHERE vec_id < 16),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c0.cent_id,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        ${SimilarityQueries.cosExactSql("v.embedding", "c0.cemb",
                    "sqrt(v.norm2 * c0.cnorm)")} DESC,
         |        c0.cent_id) AS rn
         |    FROM v CROSS JOIN c0) WHERE rn = 1),
         |pre AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    x.embedding AS ea, y.embedding AS eb,
         |    sqrt(x.norm2 * y.norm2) AS denom,
         |    list_reduce(list_transform(range(1, len(x.embedding) + 1),
         |      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
         |      (acc, p) -> acc + p) AS dot_approx
         |  FROM assign a JOIN assign b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |  JOIN v x ON x.vec_id = a.vec_id
         |  JOIN v y ON y.vec_id = b.vec_id),
         |dup AS (
         |  SELECT vec_b AS vec_id, MIN(vec_a) AS keeper_id FROM (
         |    SELECT vec_a, vec_b,
         |      CAST(list_reduce(list_transform(range(1, len(ea) + 1),
         |        i -> CAST(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)
         |             AS DECIMAL(38,12))), (acc, x) -> acc + x) AS DOUBLE)
         |        / denom AS cos
         |    FROM pre WHERE dot_approx / denom >= 0.44)
         |  WHERE cos >= 0.45 GROUP BY vec_b)
         |SELECT av.vec_id, av.cent_id AS cell, dup.keeper_id,
         |  dup.keeper_id IS NULL AS is_kept
         |FROM assign av LEFT JOIN dup ON dup.vec_id = av.vec_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = SimilarityQueries.vectors(spark, dir)
      // coarse quantizer: 16-centroid broadcast assign (q_sim_ivf's shape)
      val c0 = v.filter(col("vec_id") < 16).select(
        col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        col("norm2").as("cnorm"))
      val byVec = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_c").desc, col("cent_id"))
      val assign = v.crossJoin(broadcast(c0))
        .select(col("vec_id"), col("cent_id"),
          (expr("vector_dot_dec(embedding, cemb)")
            / sqrt(col("norm2") * col("cnorm"))).as("cos_c"))
        .withColumn("rn", row_number().over(byVec))
        .filter(col("rn") === 1)
        .select("vec_id", "cent_id")
      // candidates: cell-mates only — a slim (vec_id, cent_id) self-join
      // keyed on the cell; payloads come back by vec_id AFTER candidate
      // generation, so only ids shuffle on the hot key
      val pre = assign.as("a")
        .join(assign.as("b"),
          col("a.cent_id") === col("b.cent_id")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .join(v.as("x"), col("vec_a") === col("x.vec_id"))
        .join(v.as("y"), col("vec_b") === col("y.vec_id"))
        .select(col("vec_a"), col("vec_b"),
          col("x.embedding").as("ea"), col("y.embedding").as("eb"),
          sqrt(col("x.norm2") * col("y.norm2")).as("denom"),
          call_function("vector_dot", col("x.embedding"), col("y.embedding"))
            .as("dot_approx"))
      val dup = pre.filter(col("dot_approx") / col("denom") >= 0.44)
        .select(col("vec_a"), col("vec_b"),
          (expr("vector_dot_dec(ea, eb)") / col("denom")).as("cos"))
        .filter(col("cos") >= 0.45)
        .groupBy(col("vec_b").as("vec_id"))
        .agg(min(col("vec_a")).as("keeper_id"))
      assign.join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cent_id").as("cell"),
          col("keeper_id"), col("keeper_id").isNull.as("is_kept"))
    },

    // ---- LEAKAGE-SAFE train/eval split: membership is decided by the
    // hash of the DUP-CLUSTER id (singletons fall back to their own id),
    // so every member of a near-duplicate cluster lands in the SAME
    // split — the contamination a per-document split invites (a near-dup
    // of a training doc in the eval set inflates eval scores exactly
    // like eval-set leakage). Composes the LSH cluster labeling with
    // q_split_holdout's content-hash membership: one left join of the
    // corpus against the (tiny) dup-graph labels, then a narrow hash
    // map — the split stays deterministic, coordinator-free, and
    // reproducible across engines/runs. FixtureGateSpec proves the
    // property bites: no cluster spans splits here, while the naive
    // per-doc hash DOES split at least one cluster on this corpus.
    "q_split_leakage_safe" -> GraftQuery.sql(
      "cluster-aware holdout: dup clusters never straddle the train/eval split",
      s"""WITH RECURSIVE $MINHASH_CTES_SQL,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM cand
         |  JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
         |  WHERE $JACCARD_SQL >= 0.5),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(id, lab) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id),
         |labels AS (SELECT id AS doc_id, MIN(lab) AS cluster_id
         |           FROM reach GROUP BY id),
         |g AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS gk
         |      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         |s AS (SELECT doc_id, gk,
         |        CASE WHEN CAST(concat('0x', substr(md5(CAST(gk AS VARCHAR)), 1, 2))
         |               AS BIGINT) < 204
         |             THEN 'train' ELSE 'eval' END AS split
         |      FROM g)
         |SELECT split, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT gk) AS n_groups
         |FROM s GROUP BY split""".stripMargin) { (spark, dir) =>
      val labels = all("q_dedup_clusters").run(spark, dir)
      Tables(spark, dir).documents
        .select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("gk"))
        .withColumn("split",
          when(expr("CAST(conv(substr(md5(CAST(CAST(gk AS STRING) AS BINARY)), 1, 2), 16, 10) AS BIGINT)") < 204,
            "train").otherwise("eval"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("gk")).as("n_groups"))
    },

    // ---- exact-substring span REMOVAL (the rewrite Lee et al. actually
    // apply): keep the globally-FIRST occurrence (smallest (doc_id, pos))
    // of every duplicated K-gram, cut every other duplicated start, merge
    // the cut windows per doc into maximal spans, and emit the rewritten
    // document as (kept-token count, removed count, md5 fingerprint of
    // the surviving token sequence). Every stage is keyed and linear:
    // occurrence ranking is a per-hash window over duplicated postings
    // only; cut spans explode to individual positions (bounded by corpus
    // tokens) and anti-join the positional word list on (doc_id, pos);
    // the fingerprint is an order-restored aggregation per doc. Docs with
    // nothing to cut pass through with their full-text fingerprint — the
    // gate proves the rewrite is identity off the duplicated set. At
    // 100 TB this is the span-cut rewriting job that follows
    // q_dedup_substring's detection pass, still with no pairwise work.
    "q_dedup_substring_rewrite" -> GraftQuery.sql(
      "exact-substring rewrite: cut non-first duplicated spans, fingerprint survivors",
      s"""WITH toks AS (SELECT doc_id, $WORDS_SQL AS ws FROM documents),
         |g AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    CAST(concat('0x', substr(md5(array_to_string(ws[i:i+7], ' ')),
         |      1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
         |        FROM toks WHERE len(ws) >= 8)),
         |duph AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
         |occ AS (
         |  SELECT g.doc_id, g.pos,
         |    row_number() OVER (PARTITION BY g.h ORDER BY g.doc_id, g.pos)
         |      AS orn
         |  FROM g JOIN duph USING (h)),
         |cutstart AS (SELECT doc_id, pos FROM occ WHERE orn >= 2),
         |isl AS (
         |  SELECT doc_id, pos,
         |    SUM(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM (SELECT doc_id, pos,
         |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |        FROM cutstart)),
         |sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e
         |       FROM isl GROUP BY doc_id, island),
         |cutpos AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM sp),
         |words AS (
         |  SELECT doc_id, i - 1 AS pos, ws[i] AS w
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |        FROM toks)),
         |kept AS (
         |  SELECT w.doc_id, w.pos, w.w FROM words w
         |  LEFT JOIN cutpos c ON c.doc_id = w.doc_id AND c.pos = w.pos
         |  WHERE c.pos IS NULL),
         |agg AS (SELECT doc_id, COUNT(*) AS n_tok_kept,
         |          md5(string_agg(w, ' ' ORDER BY pos)) AS fp
         |        FROM kept GROUP BY doc_id),
         |cuts AS (SELECT doc_id, COUNT(*) AS n_spans_cut,
         |           CAST(SUM(e - s) AS BIGINT) AS tokens_removed
         |         FROM sp GROUP BY doc_id)
         |SELECT t.doc_id,
         |  COALESCE(c.n_spans_cut, 0) AS n_spans_cut,
         |  COALESCE(c.tokens_removed, 0) AS tokens_removed,
         |  COALESCE(a.n_tok_kept, 0) AS n_tok_kept, a.fp
         |FROM toks t
         |LEFT JOIN cuts c ON c.doc_id = t.doc_id
         |LEFT JOIN agg a ON a.doc_id = t.doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val K = 8
      val toks = Tables(spark, dir).documents
        .select(col("doc_id"), words(col("text")).as("ws"))
        .repartition(spark.sparkContext.defaultParallelism)
      val posting = toks.select(
        col("doc_id"),
        posexplode(expr(s"gram_hashes(ws, $K)")).as(Seq("pos", "h")))
      val duph = posting.groupBy(col("h"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2).select(col("h"))
      // rank every duplicated occurrence by global (doc_id, pos) order;
      // the per-hash window is over duplicated postings ONLY
      val byH = Window.partitionBy(col("h"))
        .orderBy(col("doc_id"), col("pos"))
      val cutstart = posting.join(duph, "h")
        .withColumn("orn", row_number().over(byH))
        .filter(col("orn") >= 2)
        .select(col("doc_id"), col("pos"))
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val isl = cutstart
        .withColumn("prev", lag(col("pos"), 1).over(byPos))
        .withColumn("island",
          sum(when(col("prev").isNull || col("pos") > col("prev") + K, 1)
            .otherwise(0)).over(byPos))
      val sp = isl.groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("s"), (max(col("pos")) + K).as("e"))
      val cutpos = sp.select(col("doc_id"),
        explode(sequence(col("s"), col("e") - 1)).as("pos"))
      val wordsPos = toks.select(col("doc_id"),
        posexplode(col("ws")).as(Seq("pos", "w")))
      val kept = wordsPos.join(cutpos, Seq("doc_id", "pos"), "left_anti")
      // order-restored fingerprint: sort the (pos, w) pairs per doc, then
      // hash the joined token sequence — DuckDB mirrors with an ordered
      // string_agg
      val agg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok_kept"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")), " ")).as("fp"))
      val cuts = sp.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans_cut"),
          sum(col("e") - col("s")).as("tokens_removed"))
      toks.select(col("doc_id"))
        .join(cuts, Seq("doc_id"), "left")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
          coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
          coalesce(col("n_tok_kept"), lit(0L)).as("n_tok_kept"),
          col("fp"))
    },

    // ---- exact-substring (span-level) dedup — the Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better")
    // output semantics: find every maximal token span of length ≥ K that
    // occurs more than once in the corpus, per document. The paper builds
    // a corpus-wide suffix array; the Spark-native shape is positional
    // K-gram hashing — same duplicated-span result for spans ≥ K, no
    // global sorted structure:
    //   1. posting list: (gram-hash, doc_id, pos) for every K-token
    //      window — ONE narrow pass, no distinct (positions matter);
    //   2. duplicated grams: GROUP BY hash HAVING COUNT(*) >= 2 — the
    //      single wide shuffle, map-side combinable, linear in corpus
    //      tokens (vs the paper's machine-wide suffix sort);
    //   3. join postings back on the hash (keyed equi-join), keep
    //      duplicated positions only;
    //   4. per-doc interval merge (gaps-and-islands): overlapping or
    //      adjacent [pos, pos+K) windows coalesce into maximal spans via
    //      a lag/running-sum window — per-doc narrow work after a doc_id
    //      shuffle of ONLY the duplicated positions (typically a small
    //      fraction of the corpus).
    // 100 TB: every stage is linear in token count and keyed (hash, then
    // doc_id); nothing is pairwise. This is span-granular — unlike
    // q_dedup_exact (whole doc) or q_dedup_minhash (whole-doc near-dup),
    // it localizes WHICH tokens are duplicated (the paper's ExactSubstr
    // cut list), the input to span-removal rewriting.
    "q_dedup_substring" -> GraftQuery.sql(
      "exact-substring dedup: maximal duplicated token spans (K=8) per doc",
      s"""WITH toks AS (SELECT doc_id, $WORDS_SQL AS ws FROM documents),
         |g AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    CAST(concat('0x', substr(md5(array_to_string(ws[i:i+7], ' ')),
         |      1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
         |        FROM toks WHERE len(ws) >= 8)),
         |duph AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
         |p AS (SELECT g.doc_id, g.pos FROM g JOIN duph USING (h)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    SUM(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM (SELECT doc_id, pos,
         |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |        FROM p)),
         |sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e
         |       FROM isl GROUP BY doc_id, island),
         |n AS (SELECT doc_id, len(ws) AS n_tok FROM toks)
         |SELECT sp.doc_id, COUNT(*) AS n_spans,
         |  CAST(SUM(e - s) AS BIGINT) AS dup_tokens,
         |  CAST(MAX(n.n_tok) AS BIGINT) AS n_tok,
         |  CAST(CAST(SUM(e - s) AS BIGINT) AS DOUBLE)
         |    / CAST(MAX(n.n_tok) AS DOUBLE) AS dup_frac
         |FROM sp JOIN n USING (doc_id) GROUP BY sp.doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val K = 8
      val toks = Tables(spark, dir).documents
        .select(col("doc_id"), words(col("text")).as("ws"))
        .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("n_tok"))
        .filter(col("n_tok") >= K)
        // single small parquet file -> one input partition; spread the
        // posting explode (the dominant narrow work) across cores. At
        // scale the scan has natural splits and this is a slim no-op.
        .repartition(spark.sparkContext.defaultParallelism)
      // positional K-gram posting list: (doc_id, pos, h) via the native
      // gram_hashes digest loop (positional sibling of shingle_hashes —
      // one md5 per window over reused word bytes, index preserved)
      val posting = toks.select(
        col("doc_id"),
        posexplode(expr(s"gram_hashes(ws, $K)")).as(Seq("pos", "h")))
      // the one wide shuffle: which gram hashes occur >= 2 times anywhere
      // in the corpus (cross-doc or repeated within a doc) — map-side
      // combinable counts on the 60-bit key
      val duph = posting.groupBy(col("h"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .select(col("h"))
      // duplicated positions only survive to the per-doc phase
      val dupPos = posting.join(duph, "h").select(col("doc_id"), col("pos"))
      // gaps-and-islands interval merge: windows all have length K, so
      // [pos, pos+K) overlaps-or-touches its predecessor iff
      // pos <= lag(pos) + K — a lag + running-sum window per doc over
      // ONLY the duplicated positions
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val isl = dupPos
        .withColumn("prev", lag(col("pos"), 1).over(byPos))
        .withColumn("island",
          sum(when(col("prev").isNull || col("pos") > col("prev") + K, 1)
            .otherwise(0)).over(byPos))
      val spans = isl.groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("s"), (max(col("pos")) + K).as("e"))
      spans.join(toks.select(col("doc_id"), col("n_tok")), "doc_id")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s")).as("dup_tokens"),
          max(col("n_tok")).as("n_tok"))
        .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tok"),
          (col("dup_tokens").cast("double") / col("n_tok").cast("double"))
            .as("dup_frac"))
    }
  )
}
