package graft.queries

import graft.{QueryDef, ScratchDirs, Tables}
import graft.text.{TextStats, TfIdf, Tokenize}
import graft.similarity.DocSimilarity
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis coverage over the `documents` table: the reference's
  * tokenize → TF → IDF → TF-IDF → cosine pipeline (SURVEY.md §2.2/2.4/2.7,
  * re-expressed over a long token table) plus the corpus-cleaning
  * extensions (minhash/LSH, bag-of-words dedup, n-gram Jaccard,
  * language-ID, quality scoring, fingerprinting).
  */
object TextQueries {

  /** Stopword list — inlined identically in the DuckDB oracles. */
  val Stop: Seq[String] = Seq("the", "a")

  /** md5 hex digits in q80's packing shard key: 2 → 256 shards, each
    * sorting ~0.4% of the corpus in its running-sum partition. The dial
    * to raise with corpus size (3 → 4096 shards, …).
    */
  private val packShardDigits = 2

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  private[queries] def tokenized(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      Tokenize.tokens(col("text"), Stop).as("tokens"))

  /** DuckDB CTE mirroring [[Tokenize.tokens]] (keeps duplicate tokens —
    * reference semantics, textanalyse/EntityResolution.scala:293).
    */
  private[queries] def toksCte(pred: String = "TRUE"): String = s"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\W+'),
                         t -> t <> '' AND t NOT IN ('the','a')) AS tokens
      FROM documents WHERE $pred)"""

    // Shared DuckDB CTE chain for the batched-BPE family (q145 output
    // table, q157 conflict diagnostic): 2 rounds, batch 4 — candidate
    // window t<r> (ROW_NUMBER LIMIT 4), greedy kept set k<r>
    // (NOT-EXISTS against already-kept picks only), apply slots a<r>*,
    // post-round vocab v<r>.
    private lazy val bpeBatchedCtes: String = s"""wc AS (SELECT t AS word, COUNT(*) AS cnt
             FROM (SELECT UNNEST(tokens) AS t FROM toks) GROUP BY 1),
      b0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '</w> ' AS s, cnt
             FROM wc),
      e1 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM b0)),
      p1 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e1 GROUP BY 1, 2),
      t1 AS MATERIALIZED (SELECT a, b, c, ROW_NUMBER() OVER (ORDER BY c DESC, a, b) AS rk
             FROM p1 ORDER BY c DESC, a, b LIMIT 4),
      g11 AS (SELECT a, b, c, rk FROM t1 WHERE rk = 1),
      g12 AS (SELECT t.a, t.b, t.c, t.rk FROM t1 t WHERE t.rk = 2 AND NOT EXISTS (
             SELECT 1 FROM g11 u
             WHERE u.a = t.a OR u.a = t.b OR u.b = t.a OR u.b = t.b)),
      g13 AS (SELECT t.a, t.b, t.c, t.rk FROM t1 t WHERE t.rk = 3 AND NOT EXISTS (
             SELECT 1 FROM (SELECT * FROM g11 UNION ALL SELECT * FROM g12) u
             WHERE u.a = t.a OR u.a = t.b OR u.b = t.a OR u.b = t.b)),
      g14 AS (SELECT t.a, t.b, t.c, t.rk FROM t1 t WHERE t.rk = 4 AND NOT EXISTS (
             SELECT 1 FROM (SELECT * FROM g11 UNION ALL SELECT * FROM g12
                            UNION ALL SELECT * FROM g13) u
             WHERE u.a = t.a OR u.a = t.b OR u.b = t.a OR u.b = t.b)),
      k1 AS MATERIALIZED (SELECT * FROM g11 UNION ALL SELECT * FROM g12
             UNION ALL SELECT * FROM g13 UNION ALL SELECT * FROM g14),
      a11 AS (SELECT CASE WHEN m.a IS NULL THEN s ELSE
                replace(s, ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ') END AS s, cnt
              FROM b0 LEFT JOIN (SELECT a, b FROM k1 WHERE rk = 1) m ON TRUE),
      a12 AS (SELECT CASE WHEN m.a IS NULL THEN s ELSE
                replace(s, ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ') END AS s, cnt
              FROM a11 LEFT JOIN (SELECT a, b FROM k1 WHERE rk = 2) m ON TRUE),
      a13 AS (SELECT CASE WHEN m.a IS NULL THEN s ELSE
                replace(s, ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ') END AS s, cnt
              FROM a12 LEFT JOIN (SELECT a, b FROM k1 WHERE rk = 3) m ON TRUE),
      a14 AS (SELECT CASE WHEN m.a IS NULL THEN s ELSE
                replace(s, ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ') END AS s, cnt
              FROM a13 LEFT JOIN (SELECT a, b FROM k1 WHERE rk = 4) m ON TRUE),
      v1 AS (SELECT COUNT(DISTINCT sym) AS vs
             FROM (SELECT UNNEST(string_split(trim(s), '  ')) AS sym FROM a14)),
      e2 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM a14)),
      p2 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e2 GROUP BY 1, 2),
      t2 AS MATERIALIZED (SELECT a, b, c, ROW_NUMBER() OVER (ORDER BY c DESC, a, b) AS rk
             FROM p2 ORDER BY c DESC, a, b LIMIT 4),
      g21 AS (SELECT a, b, c, rk FROM t2 WHERE rk = 1),
      g22 AS (SELECT t.a, t.b, t.c, t.rk FROM t2 t WHERE t.rk = 2 AND NOT EXISTS (
             SELECT 1 FROM g21 u
             WHERE u.a = t.a OR u.a = t.b OR u.b = t.a OR u.b = t.b)),
      g23 AS (SELECT t.a, t.b, t.c, t.rk FROM t2 t WHERE t.rk = 3 AND NOT EXISTS (
             SELECT 1 FROM (SELECT * FROM g21 UNION ALL SELECT * FROM g22) u
             WHERE u.a = t.a OR u.a = t.b OR u.b = t.a OR u.b = t.b)),
      g24 AS (SELECT t.a, t.b, t.c, t.rk FROM t2 t WHERE t.rk = 4 AND NOT EXISTS (
             SELECT 1 FROM (SELECT * FROM g21 UNION ALL SELECT * FROM g22
                            UNION ALL SELECT * FROM g23) u
             WHERE u.a = t.a OR u.a = t.b OR u.b = t.a OR u.b = t.b)),
      k2 AS MATERIALIZED (SELECT * FROM g21 UNION ALL SELECT * FROM g22
             UNION ALL SELECT * FROM g23 UNION ALL SELECT * FROM g24),
      a21 AS (SELECT CASE WHEN m.a IS NULL THEN s ELSE
                replace(s, ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ') END AS s, cnt
              FROM a14 LEFT JOIN (SELECT a, b FROM k2 WHERE rk = 1) m ON TRUE),
      a22 AS (SELECT CASE WHEN m.a IS NULL THEN s ELSE
                replace(s, ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ') END AS s, cnt
              FROM a21 LEFT JOIN (SELECT a, b FROM k2 WHERE rk = 2) m ON TRUE),
      a23 AS (SELECT CASE WHEN m.a IS NULL THEN s ELSE
                replace(s, ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ') END AS s, cnt
              FROM a22 LEFT JOIN (SELECT a, b FROM k2 WHERE rk = 3) m ON TRUE),
      a24 AS (SELECT CASE WHEN m.a IS NULL THEN s ELSE
                replace(s, ' '||m.a||'  '||m.b||' ', ' '||m.a||m.b||' ') END AS s, cnt
              FROM a23 LEFT JOIN (SELECT a, b FROM k2 WHERE rk = 4) m ON TRUE),
      v2 AS (SELECT COUNT(DISTINCT sym) AS vs
             FROM (SELECT UNNEST(string_split(trim(s), '  ')) AS sym FROM a24))"""


  /** DuckDB CTE chain unrolling `rounds` simultaneous k-core peels over
    * `s0(u, v)` (graph.KCore's algorithm): each round drops every node
    * with fewer than k surviving neighbors, then keeps only edges whose
    * BOTH endpoints survive. Peeling a fixpoint is a no-op, so `rounds`
    * only needs to reach the cascade depth (q143 pins 5; the corpus
    * peels in ≤3 at every SF). MATERIALIZED for the ccFixpointCtes
    * reason: each round reads its predecessor three times.
    */
  /** DuckDB CTE chain unrolling `rounds` synchronous label-propagation
    * updates over `edges(u, v)` (symmetric, MATERIALIZED upstream) and
    * `l0(id, label)` (graph.LabelProp's algorithm): per round every
    * node adopts the plurality label among its neighbors' current
    * labels plus its OWN self ballot (the self-inclusive variant —
    * see LabelProp's scaladoc), ties to the SMALLEST label via a
    * ROW_NUMBER over the grouped ballot counts. Every node casts the
    * self ballot, so the winner table is total: `l<rounds>` holds the
    * final labels directly.
    */
  private def lpaCtes(rounds: Int): String = (1 to rounds).map { i =>
    s"""l$i AS MATERIALIZED (SELECT u AS id, label FROM (
             SELECT t.u, t.label,
                    ROW_NUMBER() OVER (PARTITION BY t.u
                      ORDER BY COUNT(*) DESC, t.label) AS rk
             FROM (SELECT e.u, l.label FROM edges e JOIN l${i - 1} l ON l.id = e.v
                   UNION ALL SELECT id AS u, label FROM l${i - 1}) t
             GROUP BY t.u, t.label)
           WHERE rk = 1)"""
  }.mkString(",\n      ")

  private def kcorePeelCtes(k: Int, rounds: Int): String = (1 to rounds).map { i =>
    s"""d$i AS MATERIALIZED (SELECT id, COUNT(*) AS d
             FROM (SELECT u AS id FROM s${i - 1} UNION ALL SELECT v AS id FROM s${i - 1})
             GROUP BY 1),
      k$i AS MATERIALIZED (SELECT id FROM d$i WHERE d >= $k),
      s$i AS MATERIALIZED (SELECT s.u, s.v FROM s${i - 1} s
             JOIN k$i a ON a.id = s.u JOIN k$i b ON b.id = s.v)"""
  }.mkString(",\n      ")

  /** DuckDB CTE chain shared by the HyperBall pair (q163 ball series,
    * q164 harmonic centrality): the q147 SimHash near-dup graph on
    * doc_id < 200 (sig → bits → band → cand → p0 → symmetric edges),
    * seed registers from [[HyperLogLog.hashCtesSql]] over the decimal
    * id string (B(v,0) = {v}), then `hyperballRounds` ball-growth
    * rounds b1..bR — each one equi-join + group-MAX, exactly
    * graph.HyperBall.step unrolled. MATERIALIZED for the
    * ccFixpointCtes reason (each round reads its predecessor twice).
    */
  private val hyperballRounds = 3
  private val hyperballM = 64
  private lazy val hyperballCtes: String = s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
                CASE WHEN COALESCE(list_sum(list_transform(list_distinct(tokens),
                     t -> CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                               THEN 1 ELSE -1 END)), 0) >= 0
                     THEN '1' ELSE '0' END), '') AS sig
              FROM toks),
      bits AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN substr(sig, i, 1) = '1'
                             THEN (1::BIGINT << (32 - i)) ELSE 0 END)) AS BIGINT) AS sb
               FROM sig),
      band AS (SELECT doc_id, sb, t.range AS b,
                      (sb >> ((3 - t.range) * 8)) & 255 AS chunk
               FROM bits, range(0, 4) t),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sb AS sb_a, b.sb AS sb_b
               FROM band a JOIN band b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      p0 AS MATERIALIZED (SELECT id_a, id_b FROM cand
            WHERE bit_count(xor(sb_a, sb_b)) <= 3),
      edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p0
            UNION ALL SELECT id_b AS u, id_a AS v FROM p0),
      ${graft.functions.HyperLogLog.hashCtesSql(
        "CAST(doc_id AS VARCHAR)", "toks", "doc_id", hyperballM, "hb")},
      b0 AS MATERIALIZED (SELECT doc_id AS id, j, MAX(rho) AS mreg
            FROM hbr GROUP BY doc_id, j),
      ${(1 to hyperballRounds).map { i =>
        s"""b$i AS MATERIALIZED (SELECT id, j, MAX(mreg) AS mreg FROM (
             SELECT e.v AS id, b.j, b.mreg FROM edges e JOIN b${i - 1} b ON b.id = e.u
             UNION ALL SELECT id, j, mreg FROM b${i - 1}) GROUP BY id, j)"""
      }.mkString(",\n      ")}"""

  /** UNION ALL of [[HyperLogLog.estimateSql]] over each ball round —
    * the (doc_id, r, v0, n_present, s_hi, s_lo, est) series.
    */
  private lazy val hyperballEstsSql: String = (0 to hyperballRounds).map { r =>
    s"""SELECT id AS doc_id, CAST($r AS INTEGER) AS r, v0, n_present, s_hi, s_lo, est
      FROM (${graft.functions.HyperLogLog.estimateSql(
        s"SELECT id, j, mreg FROM b$r", "id", hyperballM)})"""
  }.mkString("\n      UNION ALL\n      ")

  /** The shared Spark side of the HyperBall pair: ball series over the
    * q147 SimHash graph, doc_id < 200, pinned (rounds, m) dials.
    */
  private def hyperballBalls(s: SparkSession, dir: String): DataFrame = {
    val t = tokenized(s, dir).where(col("doc_id") < 200)
      .localCheckpoint() // nodes AND pair building read it
    val pairs = Dedup.simhashNearDups(t, "doc_id", "tokens")
      .select("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    graft.graph.HyperBall.run(t.select("doc_id"), "doc_id", edges,
      rounds = hyperballRounds, m = hyperballM)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q20: tokenizer (P1-P3) — per-doc token counts.
    QueryDef("q20_token_stats", Some(s"""${toksCte()}
      SELECT doc_id, CAST(len(tokens) AS INTEGER) AS n_tokens,
             CAST(len(list_distinct(tokens)) AS INTEGER) AS n_distinct
      FROM toks ORDER BY doc_id"""),
      (s, dir) =>
        tokenized(s, dir).select(col("doc_id"),
            size(col("tokens")).as("n_tokens"),
            size(array_distinct(col("tokens"))).as("n_distinct"))
          .orderBy("doc_id")),

    // ---- q21: explode + group count (G1/G2 + A5 shape) — corpus word count.
    QueryDef("q21_wordcount", Some(s"""${toksCte()}
      SELECT token, COUNT(*) AS cnt
      FROM (SELECT unnest(tokens) AS token FROM toks)
      GROUP BY token ORDER BY token"""),
      (s, dir) =>
        tokenized(s, dir).select(explode(col("tokens")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy("token")),

    // ---- q22: document frequency + plain-ratio IDF (A5 — reference
    // semantics: idf = N/df, NO log; EntityResolution.scala:121-128).
    QueryDef("q22_idf", Some(s"""${toksCte()}
      SELECT token, COUNT(DISTINCT doc_id) AS df,
             (SELECT COUNT(*) FROM documents)::DOUBLE / COUNT(DISTINCT doc_id) AS idf
      FROM (SELECT doc_id, unnest(tokens) AS token FROM toks)
      GROUP BY token ORDER BY token"""),
      (s, dir) => {
        val d = tokenized(s, dir)
        TfIdf.documentFrequency(d, "doc_id", "tokens")
          .join(TfIdf.idf(d, "doc_id", "tokens"), "token")
          .select("token", "df", "idf").orderBy("token")
      }),

    // ---- q56: IDF value histogram — the data behind the reference's
    // SimilarityApp JFreeChart entry point (SimilarityApp.scala:40-58):
    // distribution of idf = N/df over the vocabulary, integer bins.
    QueryDef("q56_idf_histogram", Some(s"""${toksCte()},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      idf AS (SELECT token,
                     (SELECT COUNT(*) FROM toks)::DOUBLE / COUNT(DISTINCT doc_id) AS idf
              FROM tok GROUP BY token)
      SELECT CAST(FLOOR(idf) AS INTEGER) AS bin, COUNT(*) AS n_tokens
      FROM idf GROUP BY 1 ORDER BY bin"""),
      (s, dir) =>
        TfIdf.idf(tokenized(s, dir), "doc_id", "tokens")
          .groupBy(floor(col("idf")).cast("int").as("bin"))
          .agg(count(lit(1)).as("n_tokens"))
          .orderBy("bin")),

    // ---- q23: term frequency (A6/V1) — exact long/int division.
    QueryDef("q23_tf", Some(s"""${toksCte("doc_id < 100")},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      tot AS (SELECT doc_id, len(tokens) AS total FROM toks),
      cnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
      SELECT c.doc_id, c.token, c.cnt / t.total AS tf
      FROM cnt c JOIN tot t USING(doc_id)
      ORDER BY doc_id, token"""),
      (s, dir) =>
        TfIdf.termFrequency(tokenized(s, dir).where(col("doc_id") < 100), "doc_id", "tokens")
          .orderBy("doc_id", "token")),

    // ---- q24: TF-IDF weights (V2) — (cnt/total)*(N/df), all exact ops.
    QueryDef("q24_tfidf", Some(s"""${toksCte("doc_id < 100")},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      tot AS (SELECT doc_id, len(tokens) AS total FROM toks),
      cnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      idf AS (SELECT token,
                     (SELECT COUNT(*) FROM toks)::DOUBLE / COUNT(DISTINCT doc_id) AS idf
              FROM tok GROUP BY token)
      SELECT c.doc_id, c.token, (c.cnt / t.total) * i.idf AS weight
      FROM cnt c JOIN tot t USING(doc_id) JOIN idf i USING(token)
      ORDER BY doc_id, token"""),
      (s, dir) =>
        TfIdf.weights(tokenized(s, dir).where(col("doc_id") < 100), "doc_id", "tokens")
          .orderBy("doc_id", "token")),

    // ---- q25: per-doc L2 norms of TF-IDF vectors (V4) — order-dependent
    // float sum → rounded.
    QueryDef("q25_doc_norms", Some(s"""${toksCte()},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      tot AS (SELECT doc_id, len(tokens) AS total FROM toks),
      cnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      idf AS (SELECT token,
                     (SELECT COUNT(*) FROM toks)::DOUBLE / COUNT(DISTINCT doc_id) AS idf
              FROM tok GROUP BY token),
      w AS (SELECT c.doc_id, (c.cnt / t.total) * i.idf AS weight
            FROM cnt c JOIN tot t USING(doc_id) JOIN idf i USING(token))
      SELECT doc_id, ROUND(SQRT(SUM(weight*weight)), 6) AS norm
      FROM w GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val d = tokenized(s, dir)
        TfIdf.norms(TfIdf.weights(d, "doc_id", "tokens"), "doc_id")
          .select(col("doc_id"), round(col("norm"), 6).as("norm"))
          .orderBy("doc_id")
      }),

    // ---- q26: FLAGSHIP — inverted-index cosine similarity, all pairs
    // sharing ≥1 token (fuses reference J2+A8+V7 into join+agg; SURVEY §7.1).
    QueryDef("q26_cosine_pairs", Some(s"""${toksCte("doc_id < 120")},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      tot AS (SELECT doc_id, len(tokens) AS total FROM toks),
      cnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      idf AS (SELECT token,
                     (SELECT COUNT(*) FROM toks)::DOUBLE / COUNT(DISTINCT doc_id) AS idf
              FROM tok GROUP BY token),
      w AS (SELECT c.doc_id, c.token, (c.cnt / t.total) * i.idf AS weight
            FROM cnt c JOIN tot t USING(doc_id) JOIN idf i USING(token)),
      nrm AS (SELECT doc_id, SQRT(SUM(weight*weight)) AS norm FROM w GROUP BY doc_id),
      dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.weight*b.weight) AS dot
               FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
      SELECT id_a, id_b, ROUND(dot / (na.norm * nb.norm), 6) AS sim
      FROM dots JOIN nrm na ON na.doc_id = id_a JOIN nrm nb ON nb.doc_id = id_b
      ORDER BY id_a, id_b"""),
      (s, dir) => {
        val d = tokenized(s, dir).where(col("doc_id") < 120)
        val w = TfIdf.weights(d, "doc_id", "tokens")
        DocSimilarity.selfCosinePairs(w, "doc_id")
          .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
          .orderBy("id_a", "id_b")
      }),

    // ---- q27: MinHash signatures — map-side only, no shuffle.
    QueryDef("q27_minhash", Some(s"""${toksCte()}
      SELECT doc_id,
             list_min(list_transform(list_distinct(tokens), t -> md5('0:' || t))) AS mh0,
             list_min(list_transform(list_distinct(tokens), t -> md5('1:' || t))) AS mh1,
             list_min(list_transform(list_distinct(tokens), t -> md5('2:' || t))) AS mh2,
             list_min(list_transform(list_distinct(tokens), t -> md5('3:' || t))) AS mh3
      FROM toks ORDER BY doc_id"""),
      (s, dir) =>
        Dedup.minhashSignatures(tokenized(s, dir), "doc_id", "tokens", 4)
          .orderBy("doc_id")),

    // ---- q28: MinHash-LSH candidate pairs (band join).
    QueryDef("q28_lsh_candidates", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id,
                list_min(list_transform(list_distinct(tokens), t -> md5('0:' || t))) AS mh0,
                list_min(list_transform(list_distinct(tokens), t -> md5('1:' || t))) AS mh1,
                list_min(list_transform(list_distinct(tokens), t -> md5('2:' || t))) AS mh2,
                list_min(list_transform(list_distinct(tokens), t -> md5('3:' || t))) AS mh3
              FROM toks),
      band AS (SELECT doc_id, 0 AS b, mh0 AS mh FROM sig UNION ALL
               SELECT doc_id, 1, mh1 FROM sig UNION ALL
               SELECT doc_id, 2, mh2 FROM sig UNION ALL
               SELECT doc_id, 3, mh3 FROM sig)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM band a JOIN band b ON a.b = b.b AND a.mh = b.mh AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b"""),
      (s, dir) =>
        Dedup.lshCandidatePairs(
            tokenized(s, dir).where(col("doc_id") < 200), "doc_id", "tokens", 4)
          .orderBy("id_a", "id_b")),

    // ---- q52: banded MinHash-LSH (4 bands × 2 rows): candidates must
    // match BOTH minhashes of a band — the precision-oriented corner of
    // the b×r dial (q28 is the r=1 recall corner).
    QueryDef("q52_lsh_banded", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")})
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM band a JOIN band b ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b"""),
      (s, dir) =>
        Dedup.lshBandedCandidatePairs(
            tokenized(s, dir).where(col("doc_id") < 200), "doc_id", "tokens", 4, 2)
          .orderBy("id_a", "id_b")),

    // ---- q63: banded LSH with the bucket-skew cap engaged — buckets
    // larger than 50 docs are dropped before the self-join (at sf0.01
    // four degenerate buckets hold 119-144 of the 200 docs and would
    // emit ~40k of the candidate pairs; the cap is the df-threshold of
    // LSH and the knob that bounds a hot bucket's k² blowup at 100 TB).
    QueryDef("q63_lsh_capped", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b"""),
      (s, dir) =>
        Dedup.lshBandedCandidatePairs(
            tokenized(s, dir).where(col("doc_id") < 200), "doc_id", "tokens", 4, 2,
            maxBucketSize = 50)
          .orderBy("id_a", "id_b")),

    // ---- q29: word-bigram Jaccard near-dup (exact integer division).
    QueryDef("q29_jaccard_bigram", Some(s"""${toksCte("doc_id < 150")},
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      sz AS (SELECT doc_id, len(sh) AS n FROM sh),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, inter / (sa.n + sb.n - inter) AS jaccard
      FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      ORDER BY id_a, id_b"""),
      (s, dir) =>
        Dedup.bigramJaccardPairs(
            tokenized(s, dir).where(col("doc_id") < 150), "doc_id", "tokens")
          .orderBy("id_a", "id_b")),

    // ---- q137: the SCALE route for pairwise Jaccard — q29's exact path
    // with the hot-shingle guard ENGAGED (maxShingleDf = 10, which
    // genuinely bites on this corpus: ~230 shingles above the cap at
    // every SF). Capping drops shingles shared by more than df docs
    // BEFORE the inverted-index self-join — the k² blow-up guard a
    // 100× corpus needs — at the cost of UNDERCOUNTING intersections
    // for pairs whose only overlap was hot shingles, so the emitted
    // score is a lower bound (named jaccard_lb, never jaccard). The
    // oracle mirrors the cap with the same windowed df filter. q29
    // stays the exact/parity path; this row gates the capped variant
    // a real deployment would run.
    QueryDef("q137_jaccard_capped", Some(s"""${toksCte("doc_id < 150")},
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      kept AS (SELECT doc_id, s FROM
                 (SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM e)
               WHERE df <= 10),
      sz AS (SELECT doc_id, len(sh) AS n FROM sh),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, inter / (sa.n + sb.n - inter) AS jaccard_lb
      FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      ORDER BY id_a, id_b"""),
      (s, dir) =>
        Dedup.bigramJaccardPairs(
            tokenized(s, dir).where(col("doc_id") < 150), "doc_id", "tokens",
            maxShingleDf = 10)
          .withColumnRenamed("jaccard", "jaccard_lb")
          .orderBy("id_a", "id_b")),

    // ---- q30: bag-of-words fingerprint dedup groups.
    QueryDef("q30_bow_dedup", Some(s"""${toksCte()}
      SELECT md5(array_to_string(list_sort(list_distinct(tokens)), ' ')) AS fingerprint,
             COUNT(*) AS cnt, MIN(doc_id) AS min_id
      FROM toks GROUP BY 1 HAVING COUNT(*) > 1
      ORDER BY fingerprint"""),
      (s, dir) =>
        Dedup.bowFingerprintDups(tokenized(s, dir), "doc_id", "tokens")
          .orderBy("fingerprint")),

    // ---- q31: language-ID heuristic (marker-word ratio; raw tokens).
    QueryDef("q31_langid", Some("""
      WITH raw AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\W+'),
                                 t -> t <> '') AS tokens
                   FROM documents)
      SELECT doc_id,
             len(list_filter(tokens,
                 t -> t IN ('the','a','of','to','and','in','is','it')))
               / len(tokens) AS en_ratio,
             CASE WHEN len(list_filter(tokens,
                      t -> t IN ('the','a','of','to','and','in','is','it')))
                    / len(tokens) >= CAST(0.05 AS DOUBLE)
                  THEN 'en' ELSE 'und' END AS lang_pred
      FROM raw ORDER BY doc_id"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), Tokenize.tokens(col("text")).as("tokens"))
          .select(col("doc_id"),
            TextStats.englishRatio(col("tokens")).as("en_ratio"),
            TextStats.langId(col("tokens")).as("lang_pred"))
          .orderBy("doc_id")),

    // ---- q90: language-ID confusion vs ground truth — the documents
    // table carries a labeled `lang`, so the q31 heuristic gets the
    // evaluation a real pipeline would run before trusting a filter:
    // per (actual, predicted) cell counts in one hash aggregation.
    // (The demo heuristic only knows 'en'/'und', so the matrix shows
    // exactly its recall on en and its false-positive mix elsewhere.)
    QueryDef("q90_langid_eval", Some("""
      WITH raw AS (SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(lower(text), '\W+'),
                                 t -> t <> '') AS tokens
                   FROM documents),
      p AS (SELECT lang,
              CASE WHEN len(list_filter(tokens,
                       t -> t IN ('the','a','of','to','and','in','is','it')))
                     / len(tokens) >= CAST(0.05 AS DOUBLE)
                   THEN 'en' ELSE 'und' END AS lang_pred
            FROM raw)
      SELECT lang, lang_pred, COUNT(*) AS n
      FROM p GROUP BY 1, 2 ORDER BY lang, lang_pred"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("lang"), Tokenize.tokens(col("text")).as("tokens"))
          .select(col("lang"), TextStats.langId(col("tokens")).as("lang_pred"))
          .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
          .orderBy("lang", "lang_pred")),

    // ---- q32: quality scoring (length/diversity/word-length heuristics).
    QueryDef("q32_quality", Some(s"""${toksCte()}
      SELECT doc_id,
             CAST(len(tokens) AS INTEGER) AS n_tokens,
             len(list_distinct(tokens)) / len(tokens) AS distinct_ratio,
             length(array_to_string(tokens, '')) / len(tokens) AS avg_word_len,
             (CASE WHEN len(tokens) BETWEEN 20 AND 500 THEN 1 ELSE 0 END
              + CASE WHEN len(list_distinct(tokens)) / len(tokens) > CAST(0.3 AS DOUBLE) THEN 1 ELSE 0 END
              + CASE WHEN length(array_to_string(tokens, '')) / len(tokens)
                     BETWEEN CAST(3 AS DOUBLE) AND CAST(9 AS DOUBLE) THEN 1 ELSE 0 END) AS score
      FROM toks ORDER BY doc_id"""),
      (s, dir) =>
        tokenized(s, dir).select(col("doc_id"),
            size(col("tokens")).as("n_tokens"),
            TextStats.distinctRatio(col("tokens")).as("distinct_ratio"),
            TextStats.avgWordLen(col("tokens")).as("avg_word_len"),
            TextStats.qualityScore(col("tokens")).as("score"))
          .orderBy("doc_id")),

    // ---- q33: normalized-text fingerprint.
    QueryDef("q33_fingerprint", Some(s"""${toksCte()}
      SELECT doc_id, md5(array_to_string(tokens, ' ')) AS fp
      FROM toks ORDER BY doc_id"""),
      (s, dir) =>
        tokenized(s, dir)
          .select(col("doc_id"), TextStats.fingerprint(col("tokens")).as("fp"))
          .orderBy("doc_id")),

    // ---- q44: 32-bit SimHash signature (map-side, no shuffle).
    QueryDef("q44_simhash", Some(s"""${toksCte()}
      SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
        CASE WHEN COALESCE(list_sum(list_transform(list_distinct(tokens),
             t -> CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                       THEN 1 ELSE -1 END)), 0) >= 0
             THEN '1' ELSE '0' END), '') AS sig
      FROM toks ORDER BY doc_id"""),
      (s, dir) =>
        tokenized(s, dir)
          .select(col("doc_id"), Dedup.simhash(col("tokens")).as("sig"))
          .orderBy("doc_id")),

    // ---- q45: SimHash near-dups — band bucket-join + Hamming ≤ 3, on
    // the bit-packed BIGINT signature (string sig is the spec; the
    // packed form makes banding shift-and-mask and Hamming one
    // bit_count(xor), mirroring the Spark plan).
    QueryDef("q45_simhash_neardup", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
                CASE WHEN COALESCE(list_sum(list_transform(list_distinct(tokens),
                     t -> CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                               THEN 1 ELSE -1 END)), 0) >= 0
                     THEN '1' ELSE '0' END), '') AS sig
              FROM toks),
      bits AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN substr(sig, i, 1) = '1'
                             THEN (1::BIGINT << (32 - i)) ELSE 0 END)) AS BIGINT) AS sb
               FROM sig),
      band AS (SELECT doc_id, sb, t.range AS b,
                      (sb >> ((3 - t.range) * 8)) & 255 AS chunk
               FROM bits, range(0, 4) t),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sb AS sb_a, b.sb AS sb_b
               FROM band a JOIN band b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(sb_a, sb_b)) AS INTEGER) AS hamming
      FROM cand WHERE bit_count(xor(sb_a, sb_b)) <= 3 ORDER BY id_a, id_b"""),
      (s, dir) =>
        Dedup.simhashNearDups(
            tokenized(s, dir).where(col("doc_id") < 200), "doc_id", "tokens")
          .orderBy("id_a", "id_b")),

    // ---- q47: token counting — whitespace words + BPE-ish subword units.
    QueryDef("q47_token_count", Some("""
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
                  AS INTEGER) AS n_ws_tokens,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))
                  AS INTEGER) AS n_bpe_tokens
      FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        docs(s, dir).select(col("doc_id"),
            TextStats.whitespaceTokenCount(col("text")).as("n_ws_tokens"),
            TextStats.bpeTokenCount(col("text")).as("n_bpe_tokens"))
          .orderBy("doc_id")),

    // ---- q51: dedup keep-list — the actionable output of exact dedup:
    // every doc tagged keep/drop (keep = smallest doc_id of its
    // fingerprint group), via a window min over the fingerprint.
    QueryDef("q51_dedup_keeplist", Some(s"""${toksCte()}
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(tokens)), ' ')) AS fingerprint,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY md5(array_to_string(list_sort(list_distinct(tokens)), ' '))
             ) AS keep
      FROM toks ORDER BY doc_id"""),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")
        tokenized(s, dir)
          .select(col("doc_id"),
            md5(concat_ws(" ", array_sort(array_distinct(col("tokens"))))).as("fingerprint"))
          .withColumn("keep", col("doc_id") === min("doc_id").over(w))
          .orderBy("doc_id")
      }),

    // ---- q66: PII/identifier scrubbing — redact the 9-digit account
    // numbers embedded in customer names, reporting redaction counts
    // and a fingerprint of the scrubbed text. Pure map-side regex work
    // (the shape of a pretraining-pipeline PII pass: emails, phones,
    // SSNs are the same operator with different patterns); the pattern
    // is dialect-neutral so Java regex and DuckDB RE2 agree.
    QueryDef("q66_pii_scrub", Some("""
      SELECT c_custkey,
             CAST(len(regexp_extract_all(c_name || ' ' || c_mktsegment,
                  '[0-9]{9}')) AS INTEGER) AS n_ids,
             md5(regexp_replace(c_name || ' ' || c_mktsegment,
                  '[0-9]{9}', '<ID>', 'g')) AS scrubbed_fp
      FROM customer ORDER BY c_custkey"""),
      (s, dir) => {
        val idRe = "[0-9]{9}"
        val txt = concat_ws(" ", col("c_name"), col("c_mktsegment"))
        Tables.read(s, dir, "customer").select(col("c_custkey"),
            size(regexp_extract_all(txt, lit(idRe), lit(0))).as("n_ids"),
            md5(regexp_replace(txt, idRe, "<ID>")).as("scrubbed_fp"))
          .orderBy("c_custkey")
      }),

    // ---- q67: n-gram decontamination — flag training docs (doc_id <
    // 400) sharing any word-trigram with the eval/benchmark slice
    // (doc_id ≥ 400). Inverted-index equi-join on the shingle (the
    // benchmark side's distinct shingle set stays small → broadcast),
    // NOT a pairwise comparison — the shape that survives a 100 TB
    // training corpus.
    QueryDef("q67_decontaminate", Some(s"""${toksCte()},
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens) - 1),
                 i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS sh
             FROM toks),
      train AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id < 400),
      eval_sh AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id >= 400)
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM train t JOIN eval_sh e USING (s)
      GROUP BY t.doc_id ORDER BY t.doc_id"""),
      (s, dir) => {
        val sh = tokenized(s, dir)
          .select(col("doc_id"), Dedup.wordShingles(col("tokens"), 3).as("sh"))
        val train = sh.where(col("doc_id") < 400)
          .select(col("doc_id"), explode(col("sh")).as("s"))
        val evalSh = sh.where(col("doc_id") >= 400)
          .select(explode(col("sh")).as("s")).distinct()
        train.join(broadcast(evalSh), "s")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      }),

    // ---- q74: decontamination behind a Bloom prefilter — same answer
    // as q67 (the oracle IS q67's exact SQL: a Bloom filter admits false
    // positives only, and the exact join after it removes those), but
    // the train side is first pruned by a fixed-size mergeable sketch of
    // the eval shingle set. At 100 TB the exact distinct eval-shingle
    // broadcast stops fitting; the sketch stays ~1 MB no matter how many
    // shingles went in, and only the (tiny) might-contain survivors meet
    // the exact set.
    QueryDef("q74_decontaminate_bloom", Some(s"""${toksCte()},
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens) - 1),
                 i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS sh
             FROM toks),
      train AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id < 400),
      eval_sh AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id >= 400)
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM train t JOIN eval_sh e USING (s)
      GROUP BY t.doc_id ORDER BY t.doc_id"""),
      (s, dir) => {
        val sh = tokenized(s, dir)
          .select(col("doc_id"), Dedup.wordShingles(col("tokens"), 3).as("sh"))
        val train = sh.where(col("doc_id") < 400)
          .select(col("doc_id"), explode(col("sh")).as("s"))
        // the distinct eval shingle set feeds BOTH the sketch build and
        // the exact join; materialize it once instead of tokenizing +
        // shingling the eval slice twice (bounded: it is the set whose
        // broadcastability the sketch exists to relax)
        val evalSh = sh.where(col("doc_id") >= 400)
          .select(explode(col("sh")).as("s")).distinct().localCheckpoint()
        val sketch = graft.functions.BloomFunctions
          .bloomSketch(evalSh, xxhash64(col("s")), 1L << 17, 8L << 17)
        val prefiltered = train
          .where(graft.functions.BloomFunctions.mightContain(sketch, xxhash64(col("s"))))
        prefiltered.join(broadcast(evalSh), "s")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      }),

    // ---- q68: deterministic train/val/test split — hash-bucket every
    // doc by the first hex digit of md5(doc_id): 0-d train (14/16),
    // e val, f test. Engine-portable, stable under reprocessing, no
    // shuffle beyond the count.
    QueryDef("q68_split", Some("""
      SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) = 'f' THEN 'test'
                  WHEN substr(md5(doc_id::VARCHAR), 1, 1) = 'e' THEN 'val'
                  ELSE 'train' END AS split,
             COUNT(*) AS n_docs
      FROM documents GROUP BY 1 ORDER BY split"""),
      (s, dir) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        docs(s, dir).select(
            when(h === "f", "test").when(h === "e", "val").otherwise("train").as("split"))
          .groupBy("split").agg(count(lit(1)).as("n_docs"))
          .orderBy("split")
      }),

    // ---- q69: repetition-based quality signals (the Gopher-rule
    // family): fraction of the doc taken by its most frequent unigram
    // and bigram — high values flag degenerate/repetitive text. Exact
    // long/long divisions → bit-stable. Bigrams use the NON-distinct
    // shingle kernel (counts, not sets).
    QueryDef("q69_repetition", Some(s"""${toksCte()},
      uni AS (SELECT doc_id, unnest(tokens) AS t FROM toks),
      uc AS (SELECT doc_id, t, COUNT(*) AS cnt FROM uni GROUP BY 1, 2),
      u AS (SELECT doc_id, MAX(cnt)::DOUBLE / SUM(cnt) AS top_unigram_frac
            FROM uc GROUP BY doc_id),
      big AS (SELECT doc_id, unnest(list_transform(range(1, len(tokens)),
                i -> tokens[i] || ' ' || tokens[i+1])) AS g
              FROM toks WHERE len(tokens) >= 2),
      bc AS (SELECT doc_id, g, COUNT(*) AS cnt FROM big GROUP BY 1, 2),
      b AS (SELECT doc_id, MAX(cnt)::DOUBLE / SUM(cnt) AS top_bigram_frac
            FROM bc GROUP BY doc_id)
      SELECT u.doc_id, u.top_unigram_frac, b.top_bigram_frac,
             b.top_bigram_frac > CAST(0.18 AS DOUBLE) AS flagged
      FROM u JOIN b USING (doc_id) ORDER BY doc_id"""),
      (s, dir) => {
        val d = tokenized(s, dir)
        val u = d.select(col("doc_id"), explode(col("tokens")).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id")
          .agg((max(col("cnt")).cast("double") / sum(col("cnt"))).as("top_unigram_frac"))
        val b = d.select(col("doc_id"),
            explode(graft.functions.WordShingles(col("tokens"), 2, distinct = false)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id")
          .agg((max(col("cnt")).cast("double") / sum(col("cnt"))).as("top_bigram_frac"))
        u.join(b, "doc_id")
          .select(col("doc_id"), col("top_unigram_frac"), col("top_bigram_frac"),
            (col("top_bigram_frac") > 0.18).as("flagged"))
          .orderBy("doc_id")
      }),

    // ---- q70: deterministic stratified sample — rank docs inside each
    // train/val/test stratum by a salted hash and keep the first 3 per
    // stratum. Stable under reprocessing. Selection is the mergeable
    // BottomKAggregator, NOT a window: with only 3 strata a
    // row_number() window would sort the whole corpus on 3 partitions
    // (the exact WindowExec hazard everything else here avoids), while
    // the k-slot buffer keeps ≤3 rows per (stratum, partition) and
    // merges — same (key, doc_id) total order, so the oracle's
    // ROW_NUMBER formulation is unchanged.
    QueryDef("q70_stratified_sample", Some("""
      WITH s AS (SELECT doc_id,
                   CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) = 'f' THEN 'test'
                        WHEN substr(md5(doc_id::VARCHAR), 1, 1) = 'e' THEN 'val'
                        ELSE 'train' END AS split,
                   md5(doc_id::VARCHAR || ':s') AS key
                 FROM documents),
      r AS (SELECT split, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY split ORDER BY key, doc_id)
                        AS INTEGER) AS rk
            FROM s)
      SELECT split, rk, doc_id FROM r WHERE rk <= 3 ORDER BY split, rk"""),
      (s, dir) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        docs(s, dir).select(col("doc_id"),
            when(h === "f", "test").when(h === "e", "val").otherwise("train").as("split"),
            md5(concat(col("doc_id").cast("string"), lit(":s"))).as("key"))
          .groupBy("split")
          .agg(graft.functions.TopKAggregator.bottomK(3)(
            col("key").cast("binary"), col("doc_id")).as("bk"))
          .select(col("split"), posexplode(col("bk")).as(Seq("pos", "s")))
          .select(col("split"), (col("pos") + 1).as("rk"), col("s.id").as("doc_id"))
          .orderBy("split", "rk")
      }),

    // ---- q71: corpus report card — the one-pass health summary a
    // pipeline runs after every build: volume, token mass, exact-dup
    // rate (distinct bag-of-words fingerprints), language mix. Single
    // aggregation, partial/map-side combined; fractions are single
    // exact long/long divisions.
    QueryDef("q71_corpus_stats", Some(s"""${toksCte()},
      per AS (SELECT doc_id, tokens,
                     md5(array_to_string(list_sort(list_distinct(tokens)), ' ')) AS fp,
                     len(list_filter(tokens,
                         t -> t IN ('the','a','of','to','and','in','is','it')))
                       / len(tokens) >= CAST(0.05 AS DOUBLE) AS is_en
              FROM toks WHERE len(tokens) > 0)
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(tokens)) AS BIGINT) AS total_tokens,
             COUNT(DISTINCT fp) AS n_distinct_bow,
             (COUNT(*) - COUNT(DISTINCT fp))::DOUBLE / COUNT(*) AS dup_frac,
             COUNT(CASE WHEN is_en THEN 1 END) AS n_en,
             COUNT(CASE WHEN is_en THEN 1 END)::DOUBLE / COUNT(*) AS en_frac
      FROM per"""),
      (s, dir) =>
        tokenized(s, dir).where(size(col("tokens")) > 0)
          .select(col("doc_id"), col("tokens"),
            md5(concat_ws(" ", array_sort(array_distinct(col("tokens"))))).as("fp"),
            (TextStats.englishRatio(col("tokens")) >= 0.05).as("is_en"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("tokens")).cast("long")).as("total_tokens"),
            countDistinct(col("fp")).as("n_distinct_bow"),
            ((count(lit(1)) - countDistinct(col("fp"))).cast("double") / count(lit(1)))
              .as("dup_frac"),
            count(when(col("is_en"), lit(1))).as("n_en"),
            (count(when(col("is_en"), lit(1))).cast("double") / count(lit(1)))
              .as("en_frac"))),

    // ---- q87: the sketch twin of q71's dup stats as an oracle-checked
    // row — the exact distinct-fingerprint count (DuckDB-verifiable)
    // plus a boolean asserting the HyperLogLog++ sketch landed within
    // 3σ of it (rsd 0.02 → 6%). Exact COUNT(DISTINCT) shuffles every
    // distinct key; the fixed-size mergeable sketch is the 100 TB path,
    // and this row is its measured license (ApproxDistinctSpec measures
    // the same bound as a spec). Comparison-only bound — no division.
    QueryDef("q87_approx_distinct_bound", Some(s"""${toksCte()},
      per AS (SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(tokens)), ' ')) AS fp
              FROM toks WHERE len(tokens) > 0)
      SELECT COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_distinct_bow,
             TRUE AS hll_within_3sigma
      FROM per"""),
      (s, dir) =>
        tokenized(s, dir).where(size(col("tokens")) > 0)
          .select(md5(concat_ws(" ", array_sort(array_distinct(col("tokens"))))).as("fp"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_distinct_bow"),
            approx_count_distinct(col("fp"), rsd = 0.02).as("hll"))
          .select(col("n_docs"), col("n_distinct_bow"),
            (abs(col("hll") - col("n_distinct_bow")).cast("double") <=
              col("n_distinct_bow") * 0.06).as("hll_within_3sigma"))),

    // ---- q79: document chunking — fixed 64-token windows every 48
    // tokens (16-token overlap, tail clamped) with per-chunk token
    // count and content fingerprint: the step that turns variable-length
    // docs into trainable sequences. Map-side generator fan-out; empty
    // docs yield no chunks.
    QueryDef("q79_chunking", Some(s"""${toksCte()},
      ch AS (SELECT doc_id,
               CAST(unnest(range(0, 1 + CAST(CEIL(GREATEST(len(tokens) - 64, 0) / 48.0) AS INTEGER)))
                    AS INTEGER) AS chunk_id,
               unnest(list_transform(range(0, 1 + CAST(CEIL(GREATEST(len(tokens) - 64, 0) / 48.0) AS INTEGER)),
                 i -> list_slice(tokens, i * 48 + 1, i * 48 + 64))) AS chunk
             FROM toks WHERE len(tokens) > 0)
      SELECT doc_id, chunk_id, CAST(len(chunk) AS INTEGER) AS n_tokens,
             md5(array_to_string(chunk, ' ')) AS chunk_fp
      FROM ch ORDER BY doc_id, chunk_id"""),
      (s, dir) =>
        tokenized(s, dir)
          .select(col("doc_id"),
            posexplode(graft.text.Chunking.chunks(col("tokens"), 64, 48))
              .as(Seq("chunk_id", "chunk")))
          .select(col("doc_id"), col("chunk_id"),
            size(col("chunk")).as("n_tokens"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
          .orderBy("doc_id", "chunk_id")),

    // ---- q81: boilerplate detection — chunks whose fingerprint recurs
    // across ≥2 DISTINCT docs (headers, templates, licenses). Chunk
    // granularity catches shared passages exact-doc dedup misses; one
    // hash groupBy on the fingerprint, count-distinct bounded by docs
    // per fingerprint.
    QueryDef("q81_boilerplate", Some(s"""${toksCte()},
      ch AS (SELECT doc_id,
               unnest(list_transform(range(0, 1 + CAST(CEIL(GREATEST(len(tokens) - 64, 0) / 48.0) AS INTEGER)),
                 i -> md5(array_to_string(
                        list_slice(tokens, i * 48 + 1, i * 48 + 64), ' ')))) AS chunk_fp
             FROM toks WHERE len(tokens) > 0)
      SELECT chunk_fp, COUNT(*) AS n_occurrences,
             COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
      FROM ch GROUP BY chunk_fp HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY chunk_fp"""),
      (s, dir) =>
        tokenized(s, dir)
          .select(col("doc_id"),
            explode(transform(graft.text.Chunking.chunks(col("tokens"), 64, 48),
              c => md5(concat_ws(" ", c)))).as("chunk_fp"))
          .groupBy("chunk_fp")
          .agg(count(lit(1)).as("n_occurrences"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("first_doc"))
          .where(col("n_docs") >= 2)
          .orderBy("chunk_fp")),

    // ---- q80: shard-local sequence packing — assign docs to ≤256-token
    // packs by an exclusive running token sum within 256 md5 shards (two
    // hex digits; the scale-true form: packing is a running sum, which
    // cannot be global at 100 TB, so it runs inside hash shards that
    // each fit a partition — 256 shards put ~0.4% of the corpus per
    // shard-sort, and the digit count is the dial to turn further up
    // with corpus size; a pack may overrun the budget by less than one
    // doc — the standard greedy tradeoff). Deterministic: shard by md5
    // of the id, order by id.
    QueryDef("q80_packing", Some(s"""${toksCte()},
      d AS (SELECT doc_id, len(tokens) AS n,
                   substr(md5(doc_id::VARCHAR), 1, $packShardDigits) AS shard
            FROM toks),
      p AS (SELECT shard, doc_id, n,
              CAST(FLOOR(COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
                   AS INTEGER) AS pack_id
            FROM d)
      SELECT shard, pack_id, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_tokens
      FROM p GROUP BY 1, 2 ORDER BY shard, pack_id"""),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        tokenized(s, dir)
          .select(col("doc_id"), size(col("tokens")).as("n"),
            substring(md5(col("doc_id").cast("string")), 1, packShardDigits).as("shard"))
          .withColumn("pack_id",
            floor(coalesce(sum(col("n")).over(w), lit(0L)) / lit(256.0)).cast("int"))
          .groupBy("shard", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).cast("long").as("sum_tokens"))
          .orderBy("shard", "pack_id")
      }),

    // ---- q77: feature-hashed document embeddings — project TF-IDF
    // weights onto a fixed 13-dim dense vector (dim = 16-bit md5 prefix
    // of the token mod 13, component = Σ weights; d prime so every
    // nibble participates). No vocabulary broadcast, no trained model —
    // the bridge from text into the embedding/ANN machinery at any
    // vocabulary size. The FLOAT cast collapses engine summation-order
    // noise (the q53 trick); output flattened to (doc_id, dim, w).
    QueryDef("q77_hashed_embedding", Some(s"""${toksCte("doc_id < 100")},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      tot AS (SELECT doc_id, len(tokens) AS total FROM toks),
      cnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      idf AS (SELECT token,
                     (SELECT COUNT(*) FROM toks)::DOUBLE / COUNT(DISTINCT doc_id) AS idf
              FROM tok GROUP BY token),
      w AS (SELECT c.doc_id, c.token, (c.cnt / t.total) * i.idf AS weight
            FROM cnt c JOIN tot t USING(doc_id) JOIN idf i USING(token)),
      hx AS (SELECT doc_id, weight, md5(token) AS h FROM w),
      dimmed AS (SELECT doc_id, weight,
        (${(1 to 4).map { i =>
          val nib = s"(ascii(substr(h,$i,1)) - 48 - CASE WHEN ascii(substr(h,$i,1)) >= 97 THEN 39 ELSE 0 END)"
          val mult = Seq(4096, 256, 16, 1)(i - 1)
          if (mult == 1) nib else s"$nib * $mult"
        }.mkString(" +\n         ")}) % 13 AS dim
        FROM hx),
      sums AS (SELECT doc_id, dim, SUM(weight) AS w FROM dimmed GROUP BY 1, 2),
      scaffold AS (SELECT d.doc_id, r.range AS dim
                   FROM (SELECT DISTINCT doc_id FROM sums) d, range(0, 13) r)
      SELECT s.doc_id, CAST(s.dim AS INTEGER) AS dim,
             ROUND(COALESCE(m.w, 0.0)::FLOAT::DOUBLE, 6) AS w
      FROM scaffold s LEFT JOIN sums m ON m.doc_id = s.doc_id AND m.dim = s.dim
      ORDER BY s.doc_id, s.dim"""),
      (s, dir) => {
        val w = TfIdf.weights(tokenized(s, dir).where(col("doc_id") < 100),
          "doc_id", "tokens")
        graft.text.HashedEmbedding.embed(w, "doc_id", 13)
          .select(col("doc_id"), posexplode(col("vec")).as(Seq("dim", "v")))
          .select(col("doc_id"), col("dim"),
            round(col("v").cast("double"), 6).as("w"))
          .orderBy("doc_id", "dim")
      }),

    // ---- q73: SPAN-level decontamination — q67 says WHICH train docs
    // are contaminated; this says WHERE, so the remedy can be span
    // excision instead of dropping whole docs. Positions come free from
    // the NON-distinct shingle kernel (order-preserving → posexplode
    // index = shingle start); matched trigram starts are merged into
    // maximal overlapping-or-adjacent token spans with a per-doc
    // gaps-and-islands window (partitioned by doc — bounded by doc
    // length, so scale-safe). span_end is inclusive (start + n − 1).
    QueryDef("q73_decontaminate_spans", Some(s"""${toksCte()},
      tp AS (SELECT doc_id,
               unnest(list_transform(range(1, len(tokens) - 1),
                 i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS s,
               CAST(unnest(range(0, greatest(len(tokens) - 2, 0))) AS INTEGER) AS pos
             FROM toks WHERE doc_id < 400),
      ev AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(tokens) - 1),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))) AS s
             FROM toks WHERE doc_id >= 400),
      hit AS (SELECT t.doc_id, t.pos FROM tp t JOIN ev USING (s)),
      brk AS (SELECT doc_id, pos,
                CASE WHEN pos > COALESCE(MAX(pos) OVER w + 2, -2) + 1
                     THEN 1 ELSE 0 END AS b
              FROM hit
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      isl AS (SELECT doc_id, pos,
                SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              FROM brk)
      SELECT doc_id, MIN(pos) AS span_start,
             CAST(MAX(pos) + 2 AS INTEGER) AS span_end, COUNT(*) AS n_hits
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start"""),
      (s, dir) => {
        val n = 3
        val toks = tokenized(s, dir)
        val trainPos = toks.where(col("doc_id") < 400)
          .select(col("doc_id"),
            posexplode(graft.functions.WordShingles(col("tokens"), n, distinct = false))
              .as(Seq("pos", "s")))
        val evalSh = toks.where(col("doc_id") >= 400)
          .select(explode(Dedup.wordShingles(col("tokens"), n)).as("s")).distinct()
        val hits = trainPos.join(broadcast(evalSh), "s").select(col("doc_id"), col("pos"))
        Dedup.mergeSpans(hits, n).orderBy("doc_id", "span_start")
      }),

    // ---- q72: fuzzy-dup clustering — the full production dedup chain:
    // banded MinHash-LSH candidates (bucket cap engaged) → exact
    // bigram-Jaccard verification of ONLY those candidates → connected
    // components (pointer-doubled hash-min, iterated to the FIXPOINT —
    // O(log diameter) rounds, so chained components cluster fully at
    // any hop count) → per-doc (cluster_id, keep) with the smallest
    // member as the canonical survivor. Docs in no verified pair stay
    // singleton keepers. The DuckDB oracle unrolls the same alternating
    // hash-min + pointer-jump rounds far past any possible diameter
    // (QueryDef.ccFixpointCtes), so both engines compute the true
    // fixpoint at every scale factor.
    QueryDef("q72_dup_clusters", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      ver AS (SELECT id_a, id_b FROM
                (SELECT c.id_a, c.id_b,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand c JOIN sh a ON a.doc_id = c.id_a
                             JOIN sh b ON b.doc_id = c.id_b)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ver
                UNION ALL SELECT id_b, id_a FROM ver),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM toks),
      ${graft.QueryDef.ccFixpointCtes()}
      SELECT id AS doc_id, label AS cluster_id, id = label AS keep
      FROM ${graft.QueryDef.ccFinal()} ORDER BY doc_id"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val cand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens", 4, 2,
          maxBucketSize = 50)
        val verified = Dedup.verifyJaccard(toks, "doc_id", "tokens", cand)
          .where(col("jaccard") >= 0.5)
        Dedup.nearDupClustersConverged(toks.select("doc_id"), "doc_id", verified)._1
          .orderBy("doc_id")
      }),

    // ---- q134: dedup yield report — the operational readout after
    // every dedup run: cluster-size histogram with docs-removed per
    // size (each cluster keeps its canonical survivor, removes size−1).
    // Same verified chain as q72; on top of the labels it is two
    // cluster-count-sized hash aggregates — the 100 TB marginal cost of
    // the report is nil next to the clustering that produced it.
    QueryDef("q134_dedup_yield", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      ver AS (SELECT id_a, id_b FROM
                (SELECT c.id_a, c.id_b,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand c JOIN sh a ON a.doc_id = c.id_a
                             JOIN sh b ON b.doc_id = c.id_b)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ver
                UNION ALL SELECT id_b, id_a FROM ver),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM toks),
      ${graft.QueryDef.ccFixpointCtes()},
      cs AS (SELECT label, COUNT(*) AS sz
             FROM ${graft.QueryDef.ccFinal()} GROUP BY label)
      SELECT CAST(sz AS INTEGER) AS cluster_size,
             COUNT(*) AS n_clusters,
             CAST(SUM(sz) AS BIGINT) AS n_docs,
             CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removed
      FROM cs GROUP BY sz ORDER BY cluster_size"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val cand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens", 4, 2,
          maxBucketSize = 50)
        val verified = Dedup.verifyJaccard(toks, "doc_id", "tokens", cand)
          .where(col("jaccard") >= 0.5)
        Dedup.nearDupClustersConverged(toks.select("doc_id"), "doc_id", verified)._1
          .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz")
          .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"),
            (sum("sz") - count(lit(1))).as("n_removed"))
          .select(col("sz").cast("int").as("cluster_size"),
            col("n_clusters"), col("n_docs"), col("n_removed"))
          .orderBy("cluster_size")
      }),

    // ---- q89: INCREMENTAL dedup — the steady-state production shape:
    // a fresh batch (doc_id ≥ 400) is blocked against the EXISTING
    // corpus (doc_id < 400) only — fresh×corpus band joins, never
    // corpus×corpus (the cost a per-batch pipeline cannot pay at
    // 100 TB; the corpus band table is the stored dedup index). Same
    // banded-minhash blocking, bucket cap counting both sides, exact
    // Jaccard verification of only the cross-side candidates; each
    // fresh doc reports whether it may enter the corpus and its
    // smallest verified corpus duplicate.
    QueryDef("q89_incremental_dedup", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus
               FROM kept f JOIN kept c
                 ON f.b = c.b AND f.chunk = c.chunk
                    AND f.doc_id >= 400 AND c.doc_id < 400),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      ver AS (SELECT id_new, id_corpus FROM
                (SELECT cd.id_new, cd.id_corpus,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand cd JOIN sh a ON a.doc_id = cd.id_new
                              JOIN sh b ON b.doc_id = cd.id_corpus)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      agg AS (SELECT id_new, MIN(id_corpus) AS dup_of, COUNT(*) AS n_dups
              FROM ver GROUP BY id_new)
      SELECT t.doc_id, a.dup_of IS NULL AS is_unique, a.dup_of,
             COALESCE(a.n_dups, 0) AS n_dups
      FROM (SELECT doc_id FROM toks WHERE doc_id >= 400) t
      LEFT JOIN agg a ON a.id_new = t.doc_id
      ORDER BY doc_id"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val corpus = toks.where(col("doc_id") < 400)
        val fresh = toks.where(col("doc_id") >= 400)
        val cand = Dedup.incrementalNearDupCandidates(corpus, fresh,
            "doc_id", "tokens", 4, 2, maxBucketSize = 50)
          .localCheckpoint() // the id restriction AND the verify read it
        // verification is candidate-bounded END TO END: the shingle
        // projection runs only over docs a candidate pair names (the
        // semi-join filters BELOW the md5-heavy projection) — without
        // it, every admission batch would re-shingle the whole corpus,
        // the cost incremental blocking exists to avoid
        val needed = cand.select(col("id_new").as("doc_id"))
          .unionByName(cand.select(col("id_corpus").as("doc_id")))
          .distinct()
        val verified = Dedup.verifyJaccard(
            toks.join(broadcast(needed), Seq("doc_id"), "left_semi"),
            "doc_id", "tokens",
            cand.select(col("id_new").as("id_a"), col("id_corpus").as("id_b")))
          .where(col("jaccard") >= 0.5)
        val agg = verified.groupBy(col("id_a").as("doc_id"))
          .agg(min(col("id_b")).as("dup_of"), count(lit(1)).as("n_dups"))
        fresh.select("doc_id").join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of").isNull.as("is_unique"),
            col("dup_of"), coalesce(col("n_dups"), lit(0L)).as("n_dups"))
          .orderBy("doc_id")
      }),

    // ---- q93: unigram-LM surprisal — the classic LM-based quality
    // filter (CCNet-shape, with the corpus's own unigram distribution
    // standing in for the external LM): score every doc by the average
    // negative log-likelihood of its tokens. One explode + two hash
    // aggs; the vocabulary-sized probability table stays distributed
    // (joined back on token, never collected) and the corpus total
    // rides in as a one-row broadcast. round(.,6) absorbs float-sum
    // ordering and libm ulp differences; p is cnt/total computed with
    // the identical double ops in both engines.
    QueryDef("q93_unigram_surprisal", Some(s"""${toksCte()},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      cnt AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM cnt),
      p AS (SELECT token, CAST(cnt AS DOUBLE) / (SELECT tot FROM tot) AS p FROM cnt)
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             ROUND(AVG(-ln(p.p)), 6) AS avg_nll
      FROM tok t JOIN p USING (token)
      GROUP BY t.doc_id ORDER BY t.doc_id"""),
      (s, dir) => {
        val tok = tokenized(s, dir)
          .select(col("doc_id"), explode(col("tokens")).as("token"))
        val cnt = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        val tot = cnt.agg(sum("cnt").cast("double").as("tot"))
        val p = cnt.crossJoin(broadcast(tot))
          .select(col("token"), (col("cnt").cast("double") / col("tot")).as("p"))
        tok.join(p, "token")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(avg(-log(col("p"))), 6).as("avg_nll"))
          .orderBy("doc_id")
      }),

    // ---- q94: domain-mixture resampling — deterministically downsample
    // every source to a UNIFORM target mixture (the data-mixing step of
    // corpus assembly). Per-source quota = the smallest source's count;
    // the doc keep-test is pure integer arithmetic on a 4-nibble md5
    // hash (u/65536 < quota/n_docs ⇔ u·n_docs < quota·65536), so both
    // engines select exactly the same rows — no float boundary, stable
    // under reprocessing, and any target-weight vector is the same
    // one-line change. The per-source count table and the quota are
    // broadcast; the only shuffles are the two hash aggs.
    QueryDef("q94_domain_mix", Some("""
      WITH u AS (SELECT doc_id, source,
                   CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 4) AS BIGINT) AS u
                 FROM documents),
      cnt AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      quota AS (SELECT MIN(n_docs) AS min_docs FROM cnt),
      kept AS (SELECT u.source, COUNT(*) AS n_kept
               FROM u JOIN cnt USING (source)
               WHERE u.u * cnt.n_docs < (SELECT min_docs FROM quota) * 65536
               GROUP BY u.source),
      tot AS (SELECT CAST(SUM(n_kept) AS DOUBLE) AS tot_kept FROM kept)
      SELECT c.source, c.n_docs, COALESCE(k.n_kept, 0) AS n_kept,
             ROUND(CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / c.n_docs, 6) AS keep_frac,
             ROUND(CAST(COALESCE(k.n_kept, 0) AS DOUBLE)
                   / (SELECT tot_kept FROM tot), 6) AS share
      FROM cnt c LEFT JOIN kept k USING (source)
      ORDER BY source"""),
      (s, dir) => {
        val u = docs(s, dir).select(col("doc_id"), col("source"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long").as("u"))
        val cnt = docs(s, dir).groupBy("source").agg(count(lit(1)).as("n_docs"))
        val quota = cnt.agg(min("n_docs").as("min_docs"))
        val kept = u.join(broadcast(cnt), "source").crossJoin(broadcast(quota))
          .where(col("u") * col("n_docs") < col("min_docs") * 65536)
          .groupBy("source").agg(count(lit(1)).as("n_kept"))
        val tot = kept.agg(sum("n_kept").cast("double").as("tot_kept"))
        cnt.join(kept, Seq("source"), "left").crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            round(coalesce(col("n_kept"), lit(0L)).cast("double") / col("n_docs"), 6)
              .as("keep_frac"),
            round(coalesce(col("n_kept"), lit(0L)).cast("double") / col("tot_kept"), 6)
              .as("share"))
          .orderBy("source")
      }),

    // ---- q96: TF-IDF keyword extraction — the top-3 most
    // characteristic terms per doc (classic tag/index-term generation).
    // Per-doc selection rides the mergeable binary-id top-k aggregator
    // (map-side k-slot partials, no WindowExec — a row_number window
    // would sort every doc's vocabulary in one partition chain), with
    // the window-identical (weight DESC, token ASC) order. Weights are
    // exact int-ratio products → bit-equal selection in both engines;
    // only the EMITTED weight is rounded.
    QueryDef("q96_keywords", Some(s"""${toksCte()},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      tot AS (SELECT doc_id, len(tokens) AS total FROM toks),
      cnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      idf AS (SELECT token,
                     (SELECT COUNT(*) FROM toks)::DOUBLE / COUNT(DISTINCT doc_id) AS idf
              FROM tok GROUP BY token),
      w AS (SELECT c.doc_id, c.token, (c.cnt / t.total) * i.idf AS weight
            FROM cnt c JOIN tot t USING(doc_id) JOIN idf i USING(token)),
      r AS (SELECT doc_id, token, weight,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                           ORDER BY weight DESC, token) AS INTEGER) AS rk
            FROM w)
      SELECT doc_id, rk, token, ROUND(weight, 6) AS weight
      FROM r WHERE rk <= 3 ORDER BY doc_id, rk"""),
      (s, dir) => {
        val w = TfIdf.weights(tokenized(s, dir), "doc_id", "tokens")
        w.groupBy("doc_id")
          .agg(graft.functions.TopKAggregator.topKBinary(3)(
            col("weight"), col("token").cast("binary")).as("tk"))
          .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "sc")))
          .select(col("doc_id"), (col("pos") + 1).as("rk"),
            col("sc.cand_id").cast("string").as("token"),
            round(col("sc.sim"), 6).as("weight"))
          .orderBy("doc_id", "rk")
      }),

    // ---- q97: LEAKAGE-SAFE train/val/test split — q68's hash split
    // decides per DOC, so two near-duplicate docs can straddle train
    // and test (the classic eval-contamination leak). Here the q72
    // dedup chain (banded LSH → exact-Jaccard verify → connected
    // components to the fixpoint) runs first and the split hashes the
    // CLUSTER id, so every near-dup family lands in one split
    // atomically. Singleton docs hash their own id — on those, q97
    // agrees with q68 by construction.
    QueryDef("q97_leakage_safe_split", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      ver AS (SELECT id_a, id_b FROM
                (SELECT c.id_a, c.id_b,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand c JOIN sh a ON a.doc_id = c.id_a
                             JOIN sh b ON b.doc_id = c.id_b)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ver
                UNION ALL SELECT id_b, id_a FROM ver),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM toks),
      ${graft.QueryDef.ccFixpointCtes()}
      SELECT id AS doc_id, label AS cluster_id,
             CASE WHEN substr(md5(label::VARCHAR), 1, 1) = 'f' THEN 'test'
                  WHEN substr(md5(label::VARCHAR), 1, 1) = 'e' THEN 'val'
                  ELSE 'train' END AS split
      FROM ${graft.QueryDef.ccFinal()} ORDER BY doc_id"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val cand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens", 4, 2,
          maxBucketSize = 50)
        val verified = Dedup.verifyJaccard(toks, "doc_id", "tokens", cand)
          .where(col("jaccard") >= 0.5)
        val clusters = Dedup.nearDupClustersConverged(
          toks.select("doc_id"), "doc_id", verified)._1
        val h = substring(md5(col("cluster_id").cast("string")), 1, 1)
        clusters.select(col("doc_id"), col("cluster_id"),
            when(h === "f", "test").when(h === "e", "val").otherwise("train")
              .as("split"))
          .orderBy("doc_id")
      }),

    // ---- q101: collocation mining — pointwise mutual information of
    // the 20 most frequent adjacent bigrams: PMI = ln(p(ab)/(p(a)p(b)))
    // flags pairs that co-occur far above chance (phrase detection /
    // tokenizer-merge candidates). SELECTION is by integer count with
    // bigram tiebreak (no float boundary); only the emitted PMI is
    // rounded. Spark's orderBy+limit plans TakeOrderedAndProject —
    // per-partition partial top-20 then a 20-row merge, never a full
    // sort of the bigram vocabulary.
    QueryDef("q101_collocations", Some(s"""${toksCte()},
      uni AS (SELECT unnest(tokens) AS t FROM toks),
      un AS (SELECT t, COUNT(*) AS cnt FROM uni GROUP BY t),
      nu AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM un),
      big AS (SELECT unnest(list_transform(range(1, len(tokens)),
                i -> tokens[i] || ' ' || tokens[i+1])) AS g
              FROM toks WHERE len(tokens) >= 2),
      bc AS (SELECT g, COUNT(*) AS cnt FROM big GROUP BY g),
      nb AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM bc),
      top AS (SELECT g, cnt FROM bc ORDER BY cnt DESC, g LIMIT 20),
      parts AS (SELECT g, cnt, string_split(g, ' ')[1] AS w1,
                       string_split(g, ' ')[2] AS w2 FROM top)
      SELECT p.g AS bigram, p.cnt AS n_occurrences,
             ROUND(ln((CAST(p.cnt AS DOUBLE) / (SELECT n FROM nb))
                      / ((CAST(a.cnt AS DOUBLE) / (SELECT n FROM nu))
                         * (CAST(b.cnt AS DOUBLE) / (SELECT n FROM nu)))), 6) AS pmi
      FROM parts p JOIN un a ON a.t = p.w1 JOIN un b ON b.t = p.w2
      ORDER BY n_occurrences DESC, bigram"""),
      (s, dir) => {
        val d = tokenized(s, dir)
        val uni = d.select(explode(col("tokens")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("cnt"))
        val nu = uni.agg(sum("cnt").cast("double").as("n_uni"))
        val bc = d.where(size(col("tokens")) >= 2)
          .select(explode(
            graft.functions.WordShingles(col("tokens"), 2, distinct = false)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("cnt"))
        val nb = bc.agg(sum("cnt").cast("double").as("n_big"))
        // the 20-row top side broadcasts (NOT the unigram vocabulary,
        // which is corpus-sized); each lookup is one streamed pass
        val top = bc.orderBy(col("cnt").desc, col("g")).limit(20)
          .withColumn("w1", split(col("g"), " ")(0))
          .withColumn("w2", split(col("g"), " ")(1))
        val j1 = uni.select(col("t").as("w1"), col("cnt").as("c1"))
          .join(broadcast(top), "w1")
        uni.select(col("t").as("w2"), col("cnt").as("c2"))
          .join(broadcast(j1), "w2")
          .crossJoin(broadcast(nu))
          .crossJoin(broadcast(nb))
          .select(col("g").as("bigram"), col("cnt").as("n_occurrences"),
            round(log((col("cnt").cast("double") / col("n_big"))
              / ((col("c1").cast("double") / col("n_uni"))
                 * (col("c2").cast("double") / col("n_uni")))), 6).as("pmi"))
          .orderBy(col("n_occurrences").desc, col("bigram"))
      }),

    // ---- q102: interpolated bigram-LM surprisal — q93's unigram model
    // upgraded one order: p(w₂|w₁) = 0.8·c(w₁w₂)/c(w₁·) + 0.2·c(w₂)/N
    // (Jelinek-Mercer interpolation; the history mass c(w₁·) sums the
    // bigrams starting with w₁, so the conditional normalizes). Scores
    // only bigram positions; docs under 2 tokens drop. Same scale shape
    // as q93 — the count tables stay distributed, equi-joined back to
    // the positions, never collected.
    QueryDef("q102_bigram_surprisal", Some(s"""${toksCte()},
      big AS (SELECT doc_id, unnest(list_transform(range(1, len(tokens)),
                i -> tokens[i] || ' ' || tokens[i+1])) AS g
              FROM toks WHERE len(tokens) >= 2),
      bc AS (SELECT g, COUNT(*) AS cb FROM big GROUP BY g),
      hist AS (SELECT string_split(g, ' ')[1] AS w1, SUM(cb) AS ch
               FROM bc GROUP BY 1),
      uni AS (SELECT unnest(tokens) AS t FROM toks),
      un AS (SELECT t, COUNT(*) AS cu FROM uni GROUP BY t),
      nu AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM un),
      pos AS (SELECT b.doc_id, b.g, string_split(b.g, ' ')[1] AS w1,
                     string_split(b.g, ' ')[2] AS w2
              FROM big b),
      scored AS (SELECT p.doc_id,
                   CAST(0.8 AS DOUBLE) * (CAST(c.cb AS DOUBLE) / h.ch)
                 + CAST(0.2 AS DOUBLE) * (CAST(u.cu AS DOUBLE) / (SELECT n FROM nu)) AS prob
                 FROM pos p JOIN bc c ON c.g = p.g
                            JOIN hist h ON h.w1 = p.w1
                            JOIN un u ON u.t = p.w2)
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(AVG(-ln(prob)), 6) AS avg_nll2
      FROM scored GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val d = tokenized(s, dir)
        val big = d.where(size(col("tokens")) >= 2)
          .select(col("doc_id"), explode(
            graft.functions.WordShingles(col("tokens"), 2, distinct = false)).as("g"))
        val bc = big.groupBy("g").agg(count(lit(1)).as("cb"))
        val hist = bc.select(split(col("g"), " ")(0).as("w1"), col("cb"))
          .groupBy("w1").agg(sum("cb").as("ch"))
        val un = d.select(explode(col("tokens")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("cu"))
        val nu = un.agg(sum("cu").cast("double").as("n"))
        big
          .withColumn("w1", split(col("g"), " ")(0))
          .withColumn("w2", split(col("g"), " ")(1))
          .join(bc, "g").join(hist, "w1")
          .join(un.select(col("t").as("w2"), col("cu")), "w2")
          .crossJoin(broadcast(nu))
          .select(col("doc_id"),
            (lit(0.8) * (col("cb").cast("double") / col("ch"))
             + lit(0.2) * (col("cu").cast("double") / col("n"))).as("prob"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(-log(col("prob"))), 6).as("avg_nll2"))
          .orderBy("doc_id")
      }),

    // ---- q103: deflate compression bounds — the repetition signal the
    // regex family (q69) can't fake, via a REAL codec: one Deflater per
    // partition, reset per row (the native-context shape). DuckDB has
    // no zlib, so the raw ratio can't be oracled — instead the query
    // emits BOUND booleans (the q86/q87 pattern) whose truth is deflate
    // physics with wide measured margins (TextStats.compressionBounds
    // documents each margin; 0 violations at sf0.001/0.01/0.1), plus
    // the exact byte length both engines compute. The raw-ratio variant
    // (TextStats.compressionRatio) stays available for pipelines; its
    // numeric semantics are pinned by RobustnessSpec fixtures.
    QueryDef("q103_compression_ratio", Some("""
      SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
             CASE WHEN strlen(text) >= 64 THEN TRUE END AS doc_ratio_sane,
             TRUE AS rep_tiny, TRUE AS rep_lt_doc,
             TRUE AS rnd_in_band, TRUE AS dbl_lt_doc
      FROM documents WHERE LENGTH(text) >= 20 ORDER BY doc_id"""),
      (s, dir) =>
        // spread the 4-deflates-per-row kernel across cores: a small
        // parquet scan yields 1-2 partitions locally and the final sort's
        // range-sampling pass runs the kernel twice — serial × 2 was the
        // whole query cost (measured 6 s → 0.6 s). At scale the scan
        // already yields enough partitions; the round-robin shuffle of
        // raw text is noise next to the per-row codec work.
        TextStats.compressionBounds(
            docs(s, dir).repartition(s.sparkContext.defaultParallelism),
            "doc_id", "text")
          .orderBy("doc_id")),

    // ---- q105: snapshot upsert (MERGE semantics, Spark-first) — the
    // incremental-corpus maintenance step: a fresh batch (doc_id ≥ 300,
    // re-crawled text) merges into the stored snapshot (doc_id < 400).
    // Overlap (300-399) = updates, tail (≥ 400) = inserts, rest = kept
    // rows. One full-outer equi-join on the key — the MERGE INTO plan
    // without a table format: new version wins, every row tagged with
    // its action so downstream consumers can react (re-embed updated
    // docs, admit inserted ones). At scale the snapshot side rides the
    // partitioned/bucketed layout so the join co-locates.
    QueryDef("q105_upsert", Some("""
      WITH corpus AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id < 400),
      batch AS (SELECT doc_id, md5(text || ' v2') AS fp FROM documents WHERE doc_id >= 300)
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
             CASE WHEN c.doc_id IS NULL THEN 'insert'
                  WHEN b.doc_id IS NULL THEN 'keep'
                  ELSE 'update' END AS action,
             COALESCE(b.fp, c.fp) AS fingerprint
      FROM corpus c FULL OUTER JOIN batch b ON b.doc_id = c.doc_id
      ORDER BY doc_id"""),
      (s, dir) => {
        val corpus = docs(s, dir).where(col("doc_id") < 400)
          .select(col("doc_id").as("c_id"), md5(col("text")).as("c_fp"))
        val batch = docs(s, dir).where(col("doc_id") >= 300)
          .select(col("doc_id").as("b_id"),
            md5(concat(col("text"), lit(" v2"))).as("b_fp"))
        corpus.join(batch, col("b_id") === col("c_id"), "full_outer")
          .select(coalesce(col("b_id"), col("c_id")).as("doc_id"),
            when(col("c_id").isNull, "insert")
              .when(col("b_id").isNull, "keep")
              .otherwise("update").as("action"),
            coalesce(col("b_fp"), col("c_fp")).as("fingerprint"))
          .orderBy("doc_id")
      }),

    // ---- q106: multinomial Naive Bayes language classifier — train on
    // the labeled corpus slice (doc_id < 400), predict the held-out tail
    // (doc_id ≥ 400): the lightweight fastText-shaped filter stage of a
    // corpus pipeline, as pure joins + hash aggs (graft.text.NaiveBayes).
    // The count tables stay distributed (token equi-join); label totals,
    // priors and vocabulary size broadcast. Per-token log-probs are
    // exact single divisions; only the summed log-likelihood is rounded,
    // and the argmax reads the ROUNDED score with a min-label tie-break,
    // so both engines pick identical labels.
    QueryDef("q106_nb_classify", Some(s"""${toksCte()},
      tr AS (SELECT t.doc_id, d.lang, t.tokens
             FROM toks t JOIN documents d USING (doc_id) WHERE t.doc_id < 400),
      te AS (SELECT doc_id, tokens FROM toks WHERE doc_id >= 400),
      trtok AS (SELECT lang, unnest(tokens) AS token FROM tr),
      clt AS (SELECT lang, token, COUNT(*) AS c FROM trtok GROUP BY 1, 2),
      totl AS (SELECT lang, SUM(c) AS tot FROM clt GROUP BY lang),
      vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM trtok),
      prior AS (SELECT lang, COUNT(*) AS nd FROM tr GROUP BY lang),
      ntr AS (SELECT COUNT(*) AS n FROM tr),
      tetok AS (SELECT doc_id, unnest(tokens) AS token FROM te),
      x AS (SELECT tt.doc_id, tt.token, l.lang, l.tot FROM tetok tt CROSS JOIN totl l),
      scored AS (SELECT x.doc_id, x.lang,
                   SUM(ln((COALESCE(c.c, 0) + 1)::DOUBLE
                          / CAST(x.tot + (SELECT v FROM vocab) AS DOUBLE))) AS ll
                 FROM x LEFT JOIN clt c ON c.lang = x.lang AND c.token = x.token
                 GROUP BY 1, 2),
      sc AS (SELECT s.doc_id, s.lang,
               ROUND(s.ll + ln(CAST(p.nd AS DOUBLE) / (SELECT n FROM ntr)), 6) AS score
             FROM scored s JOIN prior p ON p.lang = s.lang),
      m AS (SELECT doc_id, MAX(score) AS ms FROM sc GROUP BY doc_id),
      pred AS (SELECT sc.doc_id, MIN(sc.lang) AS pred_lang, MAX(sc.score) AS score
               FROM sc JOIN m ON m.doc_id = sc.doc_id AND sc.score = m.ms
               GROUP BY sc.doc_id)
      SELECT p.doc_id, d.lang AS actual_lang, p.pred_lang, p.score
      FROM pred p JOIN documents d USING (doc_id) ORDER BY doc_id"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val train = toks.where(col("doc_id") < 400)
          .join(docs(s, dir).select("doc_id", "lang"), "doc_id")
        val test = toks.where(col("doc_id") >= 400)
        graft.text.NaiveBayes
          .predict(train, test, "lang", "tokens", "doc_id")
          .join(docs(s, dir).select(col("doc_id"), col("lang").as("actual_lang")),
            "doc_id")
          .select(col("doc_id"), col("actual_lang"),
            col("pred_label").as("pred_lang"), col("score"))
          .orderBy("doc_id")
      }),

    // ---- q107: budget-capped corpus selection — "take the best docs
    // until the token budget runs out" (the final assembly step of a
    // training corpus). Semantically a global running sum over
    // (score DESC, doc_id) — but graft.text.BudgetSelect computes it
    // two-phase: a corpus-wide hash agg onto ≤1001 score buckets, a
    // bounded window over THAT table, whole-bucket acceptance, and a
    // per-doc ordering only inside the single boundary bucket
    // (~1/1000 of the corpus). The oracle is the plain global window —
    // the two answers coincide because floor is monotonic and both use
    // the same exact-double (distinct/total, one IEEE division) score.
    // Budget = 25% of corpus tokens, computed in-query so the query is
    // scale-free.
    QueryDef("q107_token_budget", Some(s"""${toksCte()},
      sc AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
               len(list_distinct(tokens))::DOUBLE / len(tokens) AS score
             FROM toks WHERE len(tokens) >= 1),
      b AS (SELECT CAST(FLOOR(SUM(n_tokens) * 0.25) AS BIGINT) AS budget FROM sc),
      r AS (SELECT doc_id, n_tokens, score,
              COALESCE(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
            FROM sc)
      SELECT doc_id, n_tokens, ROUND(score, 6) AS score
      FROM r WHERE tokens_before < (SELECT budget FROM b)
      ORDER BY doc_id"""),
      (s, dir) => {
        val sc = tokenized(s, dir)
          .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"),
            (size(array_distinct(col("tokens"))).cast("double")
              / size(col("tokens"))).as("score"))
          .where(col("n_tokens") >= 1)
        val budget = sc.agg(floor(sum("n_tokens") * 0.25).cast("long").as("budget"))
        graft.text.BudgetSelect
          .selectByBudget(sc, "doc_id", "n_tokens", "score", budget)
          .select(col("doc_id"), col("n_tokens"), round(col("score"), 6).as("score"))
          .orderBy("doc_id")
      }),

    // ---- q108: n-gram diversity (distinct-n) per source — the
    // memorization/diversity report of generated-or-scraped corpora:
    // distinct/total ratios for unigrams and bigrams per domain. Two
    // explodes into two-stage distinct aggs (partial counts map-side);
    // the ratios are single exact int divisions.
    QueryDef("q108_ngram_diversity", Some(s"""${toksCte()},
      ts AS (SELECT d.source, t.tokens FROM toks t JOIN documents d USING (doc_id)),
      uni AS (SELECT source, unnest(tokens) AS t FROM ts),
      big AS (SELECT source, unnest(list_transform(range(1, len(tokens)),
                i -> tokens[i] || ' ' || tokens[i+1])) AS g
              FROM ts WHERE len(tokens) >= 2),
      u AS (SELECT source, COUNT(*) AS n1, COUNT(DISTINCT t) AS d1 FROM uni GROUP BY source),
      bg AS (SELECT source, COUNT(*) AS n2, COUNT(DISTINCT g) AS d2 FROM big GROUP BY source)
      SELECT u.source, u.n1 AS n_unigrams, u.d1 AS distinct_unigrams,
             CAST(u.d1 AS DOUBLE) / u.n1 AS distinct_1,
             COALESCE(bg.n2, 0) AS n_bigrams, COALESCE(bg.d2, 0) AS distinct_bigrams,
             CASE WHEN COALESCE(bg.n2, 0) = 0 THEN 0.0
                  ELSE CAST(bg.d2 AS DOUBLE) / bg.n2 END AS distinct_2
      FROM u LEFT JOIN bg USING (source) ORDER BY source"""),
      (s, dir) => {
        val ts = tokenized(s, dir)
          .join(docs(s, dir).select("doc_id", "source"), "doc_id")
          .select(col("source"), col("tokens"))
        val u = ts.select(col("source"), explode(col("tokens")).as("t"))
          .groupBy("source")
          .agg(count(lit(1)).as("n1"), countDistinct("t").as("d1"))
        val bg = ts.where(size(col("tokens")) >= 2)
          .select(col("source"), explode(
            graft.functions.WordShingles(col("tokens"), 2, distinct = false)).as("g"))
          .groupBy("source")
          .agg(count(lit(1)).as("n2"), countDistinct("g").as("d2"))
        u.join(bg, Seq("source"), "left")
          .select(col("source"), col("n1").as("n_unigrams"),
            col("d1").as("distinct_unigrams"),
            (col("d1").cast("double") / col("n1")).as("distinct_1"),
            coalesce(col("n2"), lit(0L)).as("n_bigrams"),
            coalesce(col("d2"), lit(0L)).as("distinct_bigrams"),
            when(coalesce(col("n2"), lit(0L)) === 0, lit(0.0))
              .otherwise(col("d2").cast("double") / col("n2")).as("distinct_2"))
          .orderBy("source")
      }),

    // ---- q109: corpus-wide duplicated-SPAN self-dedup — the exact-
    // substring dedup of Lee et al. 2022 ("Deduplicating Training Data
    // Makes Language Models Better"), re-expressed relationally: every
    // 8-token window that occurs in MORE THAN ONE document marks its
    // positions, and per-doc gaps-and-islands merges marked positions
    // into removable spans. No suffix array needed: the window → hash →
    // count-distinct-docs → join-back chain is three corpus-scale hash
    // shuffles, and the islands windows partition per doc (bounded by
    // doc length). Reference cosine dedup is whole-doc
    // (EntityResolution.scala:133-157); this is the span-level
    // complement a 100 TB pipeline runs first.
    QueryDef("q109_span_self_dedup", Some(s"""${toksCte()},
      tp AS (SELECT doc_id,
               unnest(list_transform(range(1, len(tokens) - 6),
                 i -> array_to_string(tokens[i:i+7], ' '))) AS s,
               CAST(unnest(range(0, greatest(len(tokens) - 7, 0))) AS INTEGER) AS pos
             FROM toks),
      dup AS (SELECT s FROM tp GROUP BY s HAVING COUNT(DISTINCT doc_id) > 1),
      hit AS (SELECT t.doc_id, t.pos FROM tp t JOIN dup USING (s)),
      brk AS (SELECT doc_id, pos,
                CASE WHEN pos > COALESCE(MAX(pos) OVER w + 7, -2) + 1
                     THEN 1 ELSE 0 END AS b
              FROM hit
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      isl AS (SELECT doc_id, pos,
                SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              FROM brk)
      SELECT doc_id, MIN(pos) AS span_start,
             CAST(MAX(pos) + 7 AS INTEGER) AS span_end, COUNT(*) AS n_hits
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start"""),
      (s, dir) => {
        val n = 8
        val tp = tokenized(s, dir)
          .select(col("doc_id"),
            posexplode(graft.functions.WordShingles(col("tokens"), n, distinct = false))
              .as(Seq("pos", "s")))
        val dup = tp.groupBy("s").agg(countDistinct("doc_id").as("nd"))
          .where(col("nd") > 1).select("s")
        val hits = tp.join(dup, "s").select(col("doc_id"), col("pos"))
        Dedup.mergeSpans(hits, n).orderBy("doc_id", "span_start")
      }),

    // ---- q112: cross-source contamination matrix — which domains leak
    // into which: for every source pair, the count of SHARED distinct
    // 8-grams and the containment ratio shared/min(|A|,|B|) (the
    // corpus-vs-corpus overlap report run before mixing a new source
    // in). One (source, shingle)-distinct table, a shingle equi-join
    // (per-shingle fan-out bounded by sources², never docs²), and the
    // per-source size table broadcast back. Containment is a single
    // exact int division.
    QueryDef("q112_source_overlap", Some(s"""${toksCte()},
      sh AS (SELECT DISTINCT d.source,
               unnest(list_distinct(list_transform(range(1, len(t.tokens) - 6),
                 i -> array_to_string(t.tokens[i:i+7], ' ')))) AS s
             FROM toks t JOIN documents d USING (doc_id)),
      sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
      inter AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
                FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
                GROUP BY 1, 2)
      SELECT i.source_a, i.source_b, i.shared,
             CAST(i.shared AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
      FROM inter i JOIN sz sa ON sa.source = i.source_a
                   JOIN sz sb ON sb.source = i.source_b
      ORDER BY source_a, source_b"""),
      (s, dir) => {
        val n = 8
        val sh = tokenized(s, dir)
          .join(docs(s, dir).select("doc_id", "source"), "doc_id")
          .select(col("source"),
            explode(Dedup.wordShingles(col("tokens"), n)).as("s"))
          .distinct()
        val sz = sh.groupBy("source").agg(count(lit(1)).as("n"))
        val inter = sh.alias("a")
          .join(sh.alias("b"),
            col("a.s") === col("b.s") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("shared"))
        inter
          .join(broadcast(sz.select(col("source").as("source_a"), col("n").as("na"))),
            "source_a")
          .join(broadcast(sz.select(col("source").as("source_b"), col("n").as("nb"))),
            "source_b")
          .select(col("source_a"), col("source_b"), col("shared"),
            (col("shared").cast("double") / least(col("na"), col("nb")))
              .as("containment"))
          .orderBy("source_a", "source_b")
      }),

    // ---- q114: vocabulary-growth curve (Heaps' law) — how many NEW
    // bigram types each tenth of the corpus contributes (the saturation
    // signal that tells a pipeline when more same-source data stops
    // adding diversity). Each type's FIRST document is one hash agg
    // (min doc per bigram); deciles are exact integer division; the
    // cumulative curve is a window over EXACTLY 10 rows (q43's bounded-
    // window pattern — constant size at any corpus scale). Bigrams, not
    // unigrams: the testdata's unigram vocabulary is a closed 29-word
    // set, saturated in decile 0 at every SF.
    QueryDef("q114_vocab_growth", Some(s"""${toksCte()},
      tok AS (SELECT doc_id, unnest(list_transform(range(1, len(tokens)),
                i -> tokens[i] || ' ' || tokens[i+1])) AS g
              FROM toks WHERE len(tokens) >= 2),
      fd AS (SELECT g, MIN(doc_id) AS first_doc FROM tok GROUP BY g),
      nd AS (SELECT MAX(doc_id) + 1 AS n FROM toks),
      b AS (SELECT CAST((first_doc * 10) // (SELECT n FROM nd) AS INTEGER) AS decile,
                   COUNT(*) AS new_bigrams
            FROM fd GROUP BY 1)
      SELECT d.decile, COALESCE(b.new_bigrams, 0) AS new_bigrams,
             CAST(SUM(COALESCE(b.new_bigrams, 0)) OVER (ORDER BY d.decile) AS BIGINT)
               AS vocab_size
      FROM (SELECT CAST(unnest(range(10)) AS INTEGER) AS decile) d
      LEFT JOIN b ON b.decile = d.decile
      ORDER BY d.decile"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val tok = toks.where(size(col("tokens")) >= 2)
          .select(col("doc_id"), explode(
            graft.functions.WordShingles(col("tokens"), 2, distinct = false)).as("g"))
        val fd = tok.groupBy("g").agg(min("doc_id").as("first_doc"))
        val nd = toks.agg((max("doc_id") + 1).as("n"))
        val b = fd.crossJoin(broadcast(nd))
          .groupBy(expr("first_doc * 10 div n").cast("int").as("decile"))
          .agg(count(lit(1)).as("new_bigrams"))
        val deciles = s.range(10).select(col("id").cast("int").as("decile"))
        // bounded window: exactly 10 rows at any corpus size
        val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        deciles.join(broadcast(b), Seq("decile"), "left")
          .select(col("decile"),
            coalesce(col("new_bigrams"), lit(0L)).as("new_bigrams"))
          .withColumn("vocab_size", sum("new_bigrams").over(w))
          .orderBy("decile")
      }),

    // ---- q115: Zipf rank-frequency slope — least-squares fit of
    // ln(freq) on ln(rank) over the top-100 bigrams: the one-number
    // naturalness check of a corpus (natural text ≈ −1 on unigrams;
    // synthetic/templated text flattens). Selection is integer-count
    // with bigram tie-break via orderBy+limit (TakeOrderedAndProject —
    // partial top-100 per partition, 100-row merge, never a vocabulary
    // sort); the rank window and the regression run over EXACTLY 100
    // rows. The 100-term sums are order-dependent doubles → the two
    // emitted coefficients round to 6.
    QueryDef("q115_zipf_slope", Some(s"""${toksCte()},
      tok AS (SELECT unnest(list_transform(range(1, len(tokens)),
                i -> tokens[i] || ' ' || tokens[i+1])) AS g
              FROM toks WHERE len(tokens) >= 2),
      cnt AS (SELECT g, COUNT(*) AS c FROM tok GROUP BY g),
      top AS (SELECT g, c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, g) AS INTEGER) AS rank
              FROM cnt ORDER BY c DESC, g LIMIT 100),
      pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM top),
      agg AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(x*x) AS sxx, SUM(x*y) AS sxy FROM pts)
      SELECT CAST(n AS BIGINT) AS n_points,
             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS zipf_slope,
             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
                  END AS intercept
      FROM agg"""),
      (s, dir) => {
        val cnt = tokenized(s, dir).where(size(col("tokens")) >= 2)
          .select(explode(
            graft.functions.WordShingles(col("tokens"), 2, distinct = false)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("c"))
        val top = cnt.orderBy(col("c").desc, col("g")).limit(100)
        // rank window over the ALREADY-SELECTED 100 rows — bounded
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("g"))
        val pts = top.withColumn("rank", row_number().over(w).cast("int"))
          .select(log(col("rank").cast("double")).as("x"),
            log(col("c").cast("double")).as("y"))
        val a = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        val denom = col("n") * col("sxx") - col("sx") * col("sx")
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / denom
        a.select(col("n").as("n_points"),
          when(denom === 0, lit(null)).otherwise(round(slope, 6)).as("zipf_slope"),
          when(denom === 0, lit(null))
            .otherwise(round((col("sy") - slope * col("sx")) / col("n"), 6))
            .as("intercept"))
      }),

    // ---- q116: END-TO-END CORPUS BUILD — the flagship composition:
    // exact dedup → thresholded n-gram decontamination vs the eval
    // slice → quality gate → 50%-token budget selection →
    // deterministic split, each stage the library's own oracle-proven
    // operator (q30, q67, q32's family, q107, q68). The eval slice is
    // the FIXED first 50 docs — benchmarks don't grow with the corpus —
    // so the train side scales with SF while decontamination pressure
    // stays realistic. One catalog row demonstrating the operators
    // COMPOSE: the intermediate corpus is materialized once between
    // stages (what a production pipeline does with intermediate tables),
    // the dedup keep-rule is a hash agg + join-back (no fingerprint
    // window), decontamination is an anti-join against the broadcast
    // eval shingle set, the quality gate is a pure-integer predicate
    // (2·distinct ≥ total — no float boundary), and the budget stage is
    // the two-phase bucketed BudgetSelect. Scores are exact single
    // divisions; only the emitted score rounds.
    QueryDef("q116_corpus_build", Some(s"""${toksCte()},
      fp AS (SELECT doc_id, tokens,
               md5(array_to_string(list_sort(list_distinct(tokens)), ' ')) AS fp
             FROM toks WHERE doc_id >= 50),
      keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
      kept AS (SELECT f.doc_id, f.tokens FROM fp f JOIN keepers k
                 ON k.fp = f.fp AND k.doc_id = f.doc_id),
      tri AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tokens) - 1),
                i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))) AS s
              FROM kept),
      ev AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(tokens) - 1),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))) AS s
             FROM toks WHERE doc_id < 50),
      bad AS (SELECT t.doc_id FROM tri t JOIN ev USING (s)
              GROUP BY t.doc_id HAVING COUNT(*) >= 10),
      clean AS (SELECT k.doc_id, k.tokens FROM kept k
                LEFT JOIN bad b ON b.doc_id = k.doc_id WHERE b.doc_id IS NULL),
      sc AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
               len(list_distinct(tokens))::DOUBLE / len(tokens) AS score
             FROM clean
             WHERE len(tokens) >= 1 AND 2 * len(list_distinct(tokens)) >= len(tokens)),
      b AS (SELECT CAST(FLOOR(SUM(n_tokens) * 0.5) AS BIGINT) AS budget FROM sc),
      r AS (SELECT doc_id, n_tokens, score,
              COALESCE(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
            FROM sc)
      SELECT doc_id, n_tokens, ROUND(score, 6) AS score,
             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) = 'f' THEN 'test'
                  WHEN substr(md5(doc_id::VARCHAR), 1, 1) = 'e' THEN 'val'
                  ELSE 'train' END AS split
      FROM r WHERE tokens_before < (SELECT budget FROM b)
      ORDER BY doc_id"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        // stage 1: exact BoW dedup over the train slice (q30's rule)
        val fp = toks.where(col("doc_id") >= 50)
          .withColumn("fp",
            md5(concat_ws(" ", array_sort(array_distinct(col("tokens"))))))
        val keepers = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val kept = fp.join(keepers, Seq("fp", "doc_id")).select("doc_id", "tokens")
        // stage 2: trigram decontamination vs the eval slice (q67's rule)
        val evalSh = toks.where(col("doc_id") < 50)
          .select(explode(Dedup.wordShingles(col("tokens"), 3)).as("s")).distinct()
        val tri = kept.select(col("doc_id"),
          explode(Dedup.wordShingles(col("tokens"), 3)).as("s"))
        // contaminated = ≥10 shared distinct trigrams (the threshold is
        // the dial; "any shared n-gram" drops 98% of this closed-
        // vocabulary corpus and is not what production rules do)
        val bad = tri.join(broadcast(evalSh), "s")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 10).select("doc_id")
        // the surviving corpus feeds scoring AND the budget total —
        // materialize the stage boundary once
        val clean = kept.join(bad, Seq("doc_id"), "left_anti").localCheckpoint()
        // stage 3: quality gate (pure-integer predicate) + exact score
        val sc = clean
          .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"),
            size(array_distinct(col("tokens"))).as("nd"),
            (size(array_distinct(col("tokens"))).cast("double")
              / size(col("tokens"))).as("score"))
          .where(col("n_tokens") >= 1 && lit(2) * col("nd") >= col("n_tokens"))
          .select("doc_id", "n_tokens", "score")
        // stage 4: 50%-token budget selection (q107's two-phase operator)
        val budget = sc.agg(floor(sum("n_tokens") * 0.5).cast("long").as("budget"))
        val sel = graft.text.BudgetSelect
          .selectByBudget(sc, "doc_id", "n_tokens", "score", budget)
        // stage 5: deterministic split (q68's rule)
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        sel.select(col("doc_id"), col("n_tokens"), round(col("score"), 6).as("score"),
            when(h === "f", "test").when(h === "e", "val").otherwise("train")
              .as("split"))
          .orderBy("doc_id")
      }),

    // ---- q119: BM25 ranked retrieval — the IR scorer the reference's
    // plain TF-IDF family lacks (k1=1.2, b=0.75, the Robertson/Lucene
    // +1 idf form): top-10 docs for a 3-term query. The term filter is
    // map-side (3-literal isin BEFORE the count agg, so only query-term
    // occurrences ever shuffle); df/len/avgdl are small-to-1-row tables
    // (stats broadcast); the final cut is TakeOrderedAndProject on the
    // ROUNDED score with doc_id tie-break — per-partition top-10 then a
    // 10-row merge, never a corpus sort. Every per-term score is exact
    // single-op IEEE arithmetic; only the ≤3-term sum rounds.
    QueryDef("q119_bm25", Some(s"""${toksCte()},
      qterms AS (SELECT unnest(['data', 'model', 'learning']) AS term),
      len AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl
              FROM toks WHERE len(tokens) >= 1),
      stats AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                FROM len),
      tf AS (SELECT t.doc_id, tok.token AS term, COUNT(*) AS tf
             FROM toks t, unnest(t.tokens) AS tok(token)
             WHERE tok.token IN (SELECT term FROM qterms)
             GROUP BY 1, 2),
      df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      sc AS (SELECT f.doc_id,
               ln(((SELECT nd FROM stats) - d.df + 0.5) / (d.df + 0.5) + 1)
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (SELECT avgdl FROM stats))) AS s
             FROM tf f JOIN df d USING (term) JOIN len l USING (doc_id))
      SELECT doc_id, ROUND(SUM(s), 6) AS bm25
      FROM sc GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT 10"""),
      (s, dir) => {
        val qterms = Seq("data", "model", "learning")
        val toks = tokenized(s, dir)
        val len = toks.where(size(col("tokens")) >= 1)
          .select(col("doc_id"), size(col("tokens")).cast("long").as("dl"))
        val stats = len.agg(count(lit(1)).as("nd"),
          (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
        val tf = toks.select(col("doc_id"), explode(col("tokens")).as("term"))
          .where(col("term").isin(qterms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dft = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
        tf.join(broadcast(dft), "term").join(len, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"),
            (log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1)
              * (col("tf") * 2.2)
              / (col("tf") + lit(1.2)
                  * (lit(1) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))).as("s"))
          .groupBy("doc_id").agg(round(sum("s"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      }),

    // ---- q124: PageRank over the verified near-dup graph — authority
    // scoring as the SECOND iterative graph primitive next to connected
    // components: pick the canonical doc of a dup family by rank, not
    // min id. Same verified edge list as q72 (banded LSH → exact
    // Jaccard ≥ 0.5, symmetric); 3 iterations, damping 0.85, uniform
    // start, dangling nodes keep the teleport term but redistribute
    // nothing (standard simplification, mirrored verbatim). Each
    // iteration is one equi-join + one hash agg; N rides a one-row
    // broadcast. Only the EMITTED rank rounds (intermediate ulps are
    // ~1e-15 relative — far below 1e-6).
    QueryDef("q124_pagerank", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      ver AS (SELECT id_a, id_b FROM
                (SELECT c.id_a, c.id_b,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand c JOIN sh a ON a.doc_id = c.id_a
                             JOIN sh b ON b.doc_id = c.id_b)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ver
                UNION ALL SELECT id_b, id_a FROM ver),
      nodes AS MATERIALIZED (SELECT doc_id AS id FROM toks),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY src),
      pr0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
      ${(1 to 3).map(i => s"""pr$i AS MATERIALIZED (
        SELECT nd.id,
               (1 - 0.85) / (SELECT n FROM nn)
               + 0.85 * COALESCE(SUM(p.rank / d.outdeg), 0) AS rank
        FROM nodes nd
        LEFT JOIN edges e ON e.dst = nd.id
        LEFT JOIN pr${i - 1} p ON p.id = e.src
        LEFT JOIN deg d ON d.id = e.src
        GROUP BY nd.id)""").mkString(",\n      ")}
      SELECT id AS doc_id, ROUND(rank, 6) AS rank
      FROM pr3 ORDER BY doc_id"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val cand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens", 4, 2,
          maxBucketSize = 50)
        val verified = Dedup.verifyJaccard(toks, "doc_id", "tokens", cand)
          .where(col("jaccard") >= 0.5)
        val edges = verified.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(verified.select(col("id_b").as("src"), col("id_a").as("dst")))
        graft.graph.PageRank.run(toks.select("doc_id"), edges, iters = 3)
          .select(col("id").as("doc_id"), round(col("rank"), 6).as("rank"))
          .orderBy("doc_id")
      }),

    // ---- q128: CONTENT-DEFINED chunking (Rabin-style) — boundaries
    // fall where the rolling 4-token window's hash ≡ 0 (mod 8), so an
    // insertion early in a document shifts only ONE chunk instead of
    // re-chunking everything after it (the property fixed-size q79
    // chunking lacks, and the basis of storage-level dedup). Boundary
    // detection and chunk assignment are per-doc windows (bounded by
    // one document); the chunk fingerprint table then reports how many
    // docs share each chunk — the dedup payoff. ~8-token expected
    // chunks from the mod-8 divisor; hash = first 4 md5 nibbles
    // (integer-exact in both engines, q94's trick).
    QueryDef("q128_cdc_chunks", Some(s"""${toksCte()},
      tok AS (SELECT doc_id, CAST(unnest(range(1, len(tokens) + 1)) AS INTEGER) AS pos,
                     unnest(tokens) AS token
              FROM toks WHERE len(tokens) >= 1),
      win AS (SELECT doc_id, pos, token,
                CASE WHEN pos >= 4 AND
                  CAST('0x' || substr(md5(
                    lag(token, 3) OVER w || ' ' || lag(token, 2) OVER w || ' ' ||
                    lag(token, 1) OVER w || ' ' || token), 1, 4) AS BIGINT) % 8 = 0
                THEN 1 ELSE 0 END AS brk
              FROM tok
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      chunked AS (SELECT doc_id, pos, token,
                    COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
                  FROM win),
      chunks AS (SELECT doc_id, CAST(cid AS INTEGER) AS chunk_idx,
                   CAST(MIN(pos) AS INTEGER) AS chunk_start,
                   CAST(COUNT(*) AS INTEGER) AS chunk_len,
                   md5(string_agg(token, ' ' ORDER BY pos)) AS fp
                 FROM chunked GROUP BY doc_id, cid),
      sharing AS (SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY fp)
      SELECT c.doc_id, c.chunk_idx, c.chunk_start, c.chunk_len, c.fp,
             s.n_docs AS shared_by
      FROM chunks c JOIN sharing s USING (fp)
      ORDER BY doc_id, chunk_idx"""),
      (s, dir) => {
        val chunks = graft.text.Chunking.cdcChunks(
          tokenized(s, dir), "doc_id", "tokens", window = 4, divisor = 8)
        val sharing = chunks.groupBy("fp").agg(countDistinct("doc_id").as("n_docs"))
        chunks.join(sharing, "fp")
          .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
            col("chunk_len"), col("fp"), col("n_docs").as("shared_by"))
          .orderBy("doc_id", "chunk_idx")
      }),

    // ---- q40: multimodal plumbing — opaque binary payload + byte-level
    // metadata (format-aware decode lives in graft.multimodal: q48/q120+).
    QueryDef("q40_binary_meta", Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             hex(encode(substring(text, 1, 4))) AS hex4
      FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        docs(s, dir).select(col("doc_id"),
            length(col("text").cast("binary")).as("n_bytes"),
            hex(substring(col("text"), 1, 4).cast("binary")).as("hex4"))
          .orderBy("doc_id")),

    // ---- q129: weighted sampling without replacement — pick k docs per
    // source with probability rising in document length (the "sample
    // long documents preferentially" step of corpus assembly).
    // Deterministic priority sampling: priority = u/len with u a 4-nibble
    // md5 draw shifted to [1, 65536] (never 0, so the negation round-trip
    // through the top-k buffer can't mint −0.0) — heavier docs get
    // systematically smaller priorities, and the k smallest priorities
    // per source win. Both the priority and its negation are single
    // exact IEEE ops, so no rounding is needed anywhere.
    //
    // Scale shape: selection is the mergeable k-slot TopKAggregator
    // (map-side partials keep ≤k rows per (source, partition)) — one
    // hash aggregate, no per-source window sort, no source-cardinality
    // partition pinning. The same shape at any corpus size.
    QueryDef("q129_weighted_sample", Some("""
      WITH w AS (SELECT source, doc_id,
                   CAST('0x' || substr(md5(doc_id::VARCHAR || ':w'), 1, 4) AS BIGINT)
                     + 1 AS u,
                   LENGTH(text) AS len
                 FROM documents WHERE LENGTH(text) > 0),
      p AS (SELECT source, doc_id, u / len AS priority FROM w),
      r AS (SELECT source, doc_id, priority,
              CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY priority, doc_id)
                   AS INTEGER) AS rk
            FROM p)
      SELECT source, rk, doc_id, priority FROM r WHERE rk <= 5
      ORDER BY source, rk"""),
      (s, dir) => {
        val u = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":w"))),
          1, 4), 16, 10).cast("long") + 1
        docs(s, dir).where(length(col("text")) > 0)
          .select(col("source"),
            (-(u.cast("double") / length(col("text")))).as("negp"), col("doc_id"))
          .groupBy("source")
          .agg(graft.functions.TopKAggregator.topK(5)(col("negp"), col("doc_id")).as("tk"))
          .select(col("source"), posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("source"), (col("pos") + 1).as("rk"),
            col("t.cand_id").as("doc_id"), (-col("t.sim")).as("priority"))
          .orderBy("source", "rk")
      }),

    // ---- q132: directed shingle containment ≥ 1/3 — the sub-document
    // duplication screen (a doc half-contained in another is a quote /
    // boilerplate / partial mirror that symmetric Jaccard under-scores).
    // Same inverted-index blocking as q29; threshold is an integer
    // cross-product, the score one exact int/int division.
    QueryDef("q132_containment", Some(s"""${toksCte("doc_id < 150")},
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      sz AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                FROM e a JOIN e b ON a.s = b.s AND a.doc_id <> b.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, inter / sa.n AS containment
      FROM inter JOIN sz sa ON sa.doc_id = id_a
      WHERE inter * 3 >= sa.n
      ORDER BY id_a, id_b"""),
      (s, dir) =>
        Dedup.shingleContainmentPairs(
            tokenized(s, dir).where(col("doc_id") < 150), "doc_id", "tokens",
            num = 1, den = 3)
          .orderBy("id_a", "id_b")),

    // ---- q133: vocabulary pruning / OOV-rate monitoring — build the
    // corpus vocabulary (global token count ≥ 5, the <unk> threshold of
    // tokenizer training) and report each source's out-of-vocabulary
    // token fraction, the drift metric that catches a source gone bad
    // between corpus builds. Rates are exact long/long divisions.
    //
    // Scale shape: token instances are collapsed to per-(source, token)
    // counts BEFORE the vocabulary join, so the join input is distinct
    // vocabulary pairs, not the token stream — the "the"-sized hot keys
    // that would skew an instance-level join are one row each by the
    // time they reach the shuffle. The exploded token table feeds both
    // the vocab agg and the per-source agg, so it is materialized once.
    QueryDef("q133_oov_rate", Some(s"""${toksCte()},
      ex AS (SELECT t.doc_id, d.source, unnest(t.tokens) AS tok
             FROM toks t JOIN documents d ON d.doc_id = t.doc_id),
      vocab AS (SELECT tok FROM ex GROUP BY tok HAVING COUNT(*) >= 5),
      stc AS (SELECT source, tok, COUNT(*) AS n FROM ex GROUP BY source, tok),
      j AS (SELECT s.source, s.n, v.tok IS NOT NULL AS in_vocab
            FROM stc s LEFT JOIN vocab v ON v.tok = s.tok)
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(COALESCE(SUM(CASE WHEN NOT in_vocab THEN n END), 0) AS BIGINT) AS n_oov,
             COALESCE(SUM(CASE WHEN NOT in_vocab THEN n END), 0) / SUM(n) AS oov_rate
      FROM j GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val ex = tokenized(s, dir)
          .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"), explode(col("tokens")).as("tok"))
          .localCheckpoint()
        val vocab = ex.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .where(col("cnt") >= 5).select(col("tok"), lit(true).as("in_vocab"))
        ex.groupBy("source", "tok").agg(count(lit(1)).as("n"))
          .join(vocab, Seq("tok"), "left")
          .groupBy("source")
          .agg(sum(col("n")).as("n_tokens"),
            coalesce(sum(when(col("in_vocab").isNull, col("n"))), lit(0L)).as("n_oov"))
          .select(col("source"), col("n_tokens"), col("n_oov"),
            (col("n_oov") / col("n_tokens")).as("oov_rate"))
          .orderBy("source")
      }),

    // ---- q136: distributed BPE tokenizer training (graft.text.
    // BpeTrain) — 3 merge rounds over the corpus word-count table; each
    // round is one weighted pair-count hash agg, a deterministic top-1
    // (count desc, pair lexicographic), and a broadcast literal-replace
    // merge application. The oracle unrolls all 3 rounds as CTEs (the
    // q53 Lloyd pattern); vocab_size_after pins the APPLICATION of each
    // merge, not just the winning pair. Counts are exact integers
    // throughout — no rounding anywhere.
    QueryDef("q136_bpe_train", Some(s"""${toksCte()},
      wc AS (SELECT t AS word, COUNT(*) AS cnt
             FROM (SELECT UNNEST(tokens) AS t FROM toks) GROUP BY 1),
      r0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '</w> ' AS s, cnt
             FROM wc),
      e1 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r0)),
      p1 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e1 GROUP BY 1, 2),
      m1 AS (SELECT a, b, c FROM p1 ORDER BY c DESC, a, b LIMIT 1),
      r1 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM r0, m1 m),
      v1 AS (SELECT COUNT(DISTINCT sym) AS vs
             FROM (SELECT UNNEST(string_split(trim(s), '  ')) AS sym FROM r1)),
      e2 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r1)),
      p2 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e2 GROUP BY 1, 2),
      m2 AS (SELECT a, b, c FROM p2 ORDER BY c DESC, a, b LIMIT 1),
      r2 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM r1, m2 m),
      v2 AS (SELECT COUNT(DISTINCT sym) AS vs
             FROM (SELECT UNNEST(string_split(trim(s), '  ')) AS sym FROM r2)),
      e3 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r2)),
      p3 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e3 GROUP BY 1, 2),
      m3 AS (SELECT a, b, c FROM p3 ORDER BY c DESC, a, b LIMIT 1),
      r3 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM r2, m3 m),
      v3 AS (SELECT COUNT(DISTINCT sym) AS vs
             FROM (SELECT UNNEST(string_split(trim(s), '  ')) AS sym FROM r3))
      SELECT * FROM (
        SELECT 1 AS merge_rank, a AS left_sym, b AS right_sym,
               CAST(c AS BIGINT) AS pair_count,
               (SELECT vs FROM v1) AS vocab_size_after FROM m1
        UNION ALL
        SELECT 2, a, b, CAST(c AS BIGINT), (SELECT vs FROM v2) FROM m2
        UNION ALL
        SELECT 3, a, b, CAST(c AS BIGINT), (SELECT vs FROM v3) FROM m3)
      ORDER BY merge_rank"""),
      (s, dir) => {
        val wc = tokenized(s, dir).select(explode(col("tokens")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
        graft.text.BpeTrain.train(wc, "word", "cnt", merges = 3)
          .orderBy("merge_rank")
      }),

    // ---- q145: BATCHED BPE training (BpeTrain.trainBatched) — the
    // sequential-round ceiling fix: 2 rounds of a top-4 candidate
    // window, keeping candidates greedily in rank order unless they
    // share a symbol with an already-kept pick (the oracle unrolls the
    // greedy chain as one NOT-EXISTS CTE per rank — survivors are
    // pairwise symbol-disjoint), then ONE literal-replace chain per
    // round. Rounds are fixed so the unrolled-CTE structure is
    // data-independent; the learned count per round is data-dependent,
    // which both engines resolve identically. Each apply slot is a
    // LEFT JOIN ON TRUE against its rank's (possibly empty) survivor —
    // an empty slot passes rows through untouched, exactly like the
    // Spark fold skipping a dropped rank. BpeSpec separately proves
    // batch=1 degenerates bit-identically to q136's sequential path.
    QueryDef("q145_bpe_train_batched", Some(s"""${toksCte()},
      ${bpeBatchedCtes.trim}
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, rk) AS INTEGER) AS merge_rank,
             a AS left_sym, b AS right_sym, CAST(c AS BIGINT) AS pair_count,
             CAST(vs AS BIGINT) AS vocab_size_after
      FROM (SELECT 1 AS rnd, rk, a, b, c, (SELECT vs FROM v1) AS vs FROM k1
            UNION ALL
            SELECT 2, rk, a, b, c, (SELECT vs FROM v2) FROM k2)
      ORDER BY merge_rank"""),
      (s, dir) => {
        val wc = tokenized(s, dir).select(explode(col("tokens")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
        graft.text.BpeTrain.trainBatched(wc, "word", "cnt",
            rounds = 2, batch = 4)
          .orderBy("merge_rank")
      }),

    // ---- q157: the batched-BPE CONFLICT DIAGNOSTIC under the gate —
    // the round-6 verdict's observability ask made first-class: the
    // effective batch of a greedy symbol-disjoint round is
    // data-dependent (1..batch), and at batch = 32+ on a real corpus
    // the conflict drop can collapse rounds back toward sequential
    // training with no visibility. One row per round:
    // (round, n_candidates — the ≤ batch candidate window —, n_kept —
    // survivors of the greedy kept-pick rule —, n_dropped). The oracle
    // re-derives both counts from the SAME candidate/kept CTE chain
    // q145's merge table is checked against, so the diagnostic and the
    // merges it explains can never drift apart. Zero extra distributed
    // work: the counts come off the collected bounded candidate window
    // the trainer already holds.
    QueryDef("q157_bpe_conflict_diag", Some(s"""${toksCte()},
      ${bpeBatchedCtes.trim}
      SELECT round, CAST(nc AS BIGINT) AS n_candidates,
             CAST(nk AS BIGINT) AS n_kept,
             CAST(nc - nk AS BIGINT) AS n_dropped
      FROM (SELECT 1 AS round, (SELECT COUNT(*) FROM t1) AS nc,
                   (SELECT COUNT(*) FROM k1) AS nk
            UNION ALL
            SELECT 2, (SELECT COUNT(*) FROM t2), (SELECT COUNT(*) FROM k2))
      ORDER BY round"""),
      (s, dir) => {
        val wc = tokenized(s, dir).select(explode(col("tokens")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
        graft.text.BpeTrain.trainBatchedWithDiag(wc, "word", "cnt",
            rounds = 2, batch = 4)._2
          .orderBy("round")
      }),

    // ---- q138: BPE ENCODE — the serve side of q136's trained
    // tokenizer: train 3 merges on the doc_id < 400 slice, then apply
    // them (rank order, greedy left-to-right — a map-side
    // literal-replace chain over the bounded merge artifact, zero
    // joins) to the HELD-OUT tail's words, reporting the top-20
    // subword symbols by weighted count. Held-out application is what
    // pins generalization: the tail contains words the trainer never
    // saw, segmented by the learned merges exactly as reference BPE
    // replays its merge file. Oracle: q136's unrolled training CTEs
    // plus an unrolled 3-step replace chain over the held-out words.
    QueryDef("q138_bpe_encode", Some(s"""${toksCte()},
      wcT AS (SELECT t AS word, COUNT(*) AS cnt
              FROM (SELECT doc_id, UNNEST(tokens) AS t FROM toks)
              WHERE doc_id < 400 GROUP BY 1),
      r0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '</w> ' AS s, cnt
             FROM wcT),
      e1 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r0)),
      p1 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e1 GROUP BY 1, 2),
      m1 AS (SELECT a, b FROM p1 ORDER BY c DESC, a, b LIMIT 1),
      r1 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM r0, m1 m),
      e2 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r1)),
      p2 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e2 GROUP BY 1, 2),
      m2 AS (SELECT a, b FROM p2 ORDER BY c DESC, a, b LIMIT 1),
      r2 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM r1, m2 m),
      e3 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r2)),
      p3 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e3 GROUP BY 1, 2),
      m3 AS (SELECT a, b FROM p3 ORDER BY c DESC, a, b LIMIT 1),
      wcH AS (SELECT t AS word, COUNT(*) AS cnt
              FROM (SELECT doc_id, UNNEST(tokens) AS t FROM toks)
              WHERE doc_id >= 400 GROUP BY 1),
      h0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '</w> ' AS s, cnt
             FROM wcH),
      h1 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM h0, m1 m),
      h2 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM h1, m2 m),
      h3 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM h2, m3 m),
      sy AS (SELECT UNNEST(string_split(trim(s), '  ')) AS sym, cnt FROM h3)
      SELECT sym, CAST(SUM(cnt) AS BIGINT) AS n
      FROM sy GROUP BY sym ORDER BY n DESC, sym LIMIT 20"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val wcT = toks.where(col("doc_id") < 400)
          .select(explode(col("tokens")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
        // the trained artifact: a bounded (3-row) collect, the same
        // stored-model pattern as the IVF codebook / NB model
        val merges = graft.text.BpeTrain.train(wcT, "word", "cnt", merges = 3)
          .orderBy("merge_rank")
          .select("left_sym", "right_sym")
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        val wcH = toks.where(col("doc_id") >= 400)
          .select(explode(col("tokens")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
        graft.text.BpeTrain.encode(wcH, "word", merges)
          .select(explode(col("syms")).as("sym"), col("cnt"))
          .groupBy("sym").agg(sum("cnt").as("n"))
          .orderBy(col("n").desc, col("sym"))
          .limit(20)
      }),

    // ---- q139: EXACT Jaccard similarity JOIN at threshold 1/10 via
    // AllPairs prefix filtering (Dedup.prefixJaccardPairs) — the scale
    // route that keeps the score exact, complementing q137's capped
    // lower bound. Each doc indexes only its |A| − ⌈t|A|⌉ + 1 rarest
    // shingles (global-df order); any pair at J ≥ t provably shares a
    // prefix shingle, so the candidate join misses nothing while hot
    // boilerplate shingles (sorted last) never fan out. The oracle is
    // the NAIVE all-shared-shingle-pairs SQL — the prefix filter is
    // invisible in the gate, the same proof shape as q126's salt.
    // Threshold tested as inter·10 ≥ 1·union on exact ints (no float
    // boundary); jaccard is one exact int/int IEEE division.
    QueryDef("q139_jaccard_prefix", Some(s"""${toksCte("doc_id < 150")},
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      sz AS (SELECT doc_id, len(sh) AS n FROM sh),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, inter / (sa.n + sb.n - inter) AS jaccard
      FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      WHERE inter * 10 >= 1 * (sa.n + sb.n - inter)
      ORDER BY id_a, id_b"""),
      (s, dir) =>
        Dedup.prefixJaccardPairs(
            tokenized(s, dir).where(col("doc_id") < 150), "doc_id", "tokens",
            num = 1, den = 10)
          .orderBy("id_a", "id_b")),

    // ---- q140: exact triangle count + global clustering coefficient of
    // the SimHash near-dup graph (graph.Triangles over q45's verified
    // pairs) — the transitivity audit of a dup graph: near-clique
    // communities (trustworthy for min-id clustering) are triangle-rich,
    // chains of accidental pairwise matches are not. Degree orientation
    // bounds the wedge join by O(m^1.5) — no hub ever enumerates its
    // full neighborhood. All-integer arithmetic; clustering = 3T/wedges
    // is one exact bigint/bigint IEEE division.
    QueryDef("q140_triangles", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
                CASE WHEN COALESCE(list_sum(list_transform(list_distinct(tokens),
                     t -> CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                               THEN 1 ELSE -1 END)), 0) >= 0
                     THEN '1' ELSE '0' END), '') AS sig
              FROM toks),
      bits AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN substr(sig, i, 1) = '1'
                             THEN (1::BIGINT << (32 - i)) ELSE 0 END)) AS BIGINT) AS sb
               FROM sig),
      band AS (SELECT doc_id, sb, t.range AS b,
                      (sb >> ((3 - t.range) * 8)) & 255 AS chunk
               FROM bits, range(0, 4) t),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sb AS sb_a, b.sb AS sb_b
               FROM band a JOIN band b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      edges AS (SELECT id_a AS u, id_b AS v FROM cand
                WHERE bit_count(xor(sb_a, sb_b)) <= 3),
      deg AS (SELECT id, COUNT(*) AS d
              FROM (SELECT u AS id FROM edges UNION ALL SELECT v AS id FROM edges)
              GROUP BY 1),
      o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
                   CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
                   CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dd
            FROM edges e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
      tri AS (SELECT COUNT(*) AS n_triangles
              FROM o a JOIN o b ON a.src = b.src AND (a.dd, a.dst) < (b.dd, b.dst)
              WHERE EXISTS (SELECT 1 FROM o c WHERE c.src = a.dst AND c.dst = b.dst)),
      w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   COALESCE(CAST(SUM((d * (d - 1)) // 2) AS BIGINT), 0) AS n_wedges
            FROM deg)
      SELECT n_nodes, (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
             (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles, n_wedges,
             CASE WHEN n_wedges = 0 THEN NULL
                  ELSE 3 * (SELECT CAST(n_triangles AS BIGINT) FROM tri) / n_wedges
             END AS clustering
      FROM w"""),
      (s, dir) =>
        graft.graph.Triangles.triangleStats(
          Dedup.simhashNearDups(
              tokenized(s, dir).where(col("doc_id") < 200), "doc_id", "tokens")
            .select("id_a", "id_b"))),

    // ---- q141: exact ROC AUC of the q106 NaiveBayes language model on
    // the held-out slice, one-vs-rest for 'en' (text.Metrics.binaryAuc)
    // — the threshold-free audit of whether the filter model's SCORE
    // actually ranks the target class on top. Margin = rounded score_en
    // − rounded best-other (exact IEEE subtraction of two rounded
    // doubles, identical both engines); the Mann–Whitney rank-sum runs
    // over the aggregated distinct-margin table (q43's sweep shape),
    // keeps tie halves exact as integer 2U, and the emitted auc is one
    // exact bigint/bigint division — no rounding anywhere.
    QueryDef("q141_nb_auc", Some(s"""${toksCte()},
      tr AS (SELECT t.doc_id, d.lang, t.tokens
             FROM toks t JOIN documents d USING (doc_id) WHERE t.doc_id < 400),
      te AS (SELECT doc_id, tokens FROM toks WHERE doc_id >= 400),
      trtok AS (SELECT lang, unnest(tokens) AS token FROM tr),
      clt AS (SELECT lang, token, COUNT(*) AS c FROM trtok GROUP BY 1, 2),
      totl AS (SELECT lang, SUM(c) AS tot FROM clt GROUP BY lang),
      vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM trtok),
      prior AS (SELECT lang, COUNT(*) AS nd FROM tr GROUP BY lang),
      ntr AS (SELECT COUNT(*) AS n FROM tr),
      tetok AS (SELECT doc_id, unnest(tokens) AS token FROM te),
      x AS (SELECT tt.doc_id, tt.token, l.lang, l.tot FROM tetok tt CROSS JOIN totl l),
      scored AS (SELECT x.doc_id, x.lang,
                   SUM(ln((COALESCE(c.c, 0) + 1)::DOUBLE
                          / CAST(x.tot + (SELECT v FROM vocab) AS DOUBLE))) AS ll
                 FROM x LEFT JOIN clt c ON c.lang = x.lang AND c.token = x.token
                 GROUP BY 1, 2),
      sc AS (SELECT s.doc_id, s.lang,
               ROUND(s.ll + ln(CAST(p.nd AS DOUBLE) / (SELECT n FROM ntr)), 6) AS score
             FROM scored s JOIN prior p ON p.lang = s.lang),
      mar AS (SELECT doc_id,
                MAX(CASE WHEN lang = 'en' THEN score END)
                - MAX(CASE WHEN lang <> 'en' THEN score END) AS m
              FROM sc GROUP BY doc_id),
      lab AS (SELECT mar.doc_id, mar.m,
                CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
              FROM mar JOIN documents d USING (doc_id)),
      g AS (SELECT m, CAST(SUM(pos) AS BIGINT) AS np,
                   CAST(SUM(1 - pos) AS BIGINT) AS nn
            FROM lab GROUP BY m),
      cum AS (SELECT m, np, nn,
                COALESCE(CAST(SUM(nn) OVER (ORDER BY m
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                  0) AS nb
              FROM g)
      SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
             CAST(SUM(2 * np * nb + np * nn) AS BIGINT) AS u2,
             CASE WHEN SUM(np) = 0 OR SUM(nn) = 0 THEN NULL
                  ELSE CAST(SUM(2 * np * nb + np * nn) AS BIGINT)
                       / (2 * CAST(SUM(np) AS BIGINT) * CAST(SUM(nn) AS BIGINT))
             END AS auc
      FROM cum"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val train = toks.where(col("doc_id") < 400)
          .join(docs(s, dir).select("doc_id", "lang"), "doc_id")
        val test = toks.where(col("doc_id") >= 400)
        val sc = graft.text.NaiveBayes.scores(train, test, "lang", "tokens", "doc_id")
        val margin = sc.groupBy("id")
          .agg((max(when(col("label") === "en", col("score")))
            - max(when(col("label") =!= "en", col("score")))).as("m"))
        val lab = margin
          .join(docs(s, dir).select(col("doc_id").as("id"),
            when(col("lang") === "en", 1).otherwise(0).as("pos")), "id")
        graft.text.Metrics.binaryAuc(lab, "m", "pos")
      }),

    // ---- q142: count-min sketch heavy hitters — the fixed-size
    // frequency sketch of the approx family (q74 Bloom membership, q86
    // KLL percentile, q87 HLL distinct), here with a FULL hash-match
    // oracle: the md5 bucket hash mirrors verbatim in SQL, so sketch
    // counters, estimates and per-token overcounts are bit-identical
    // across engines — no probabilistic bound rows. Building is one
    // hash agg onto ≤ 4×4096 counters (partial agg collapses each
    // partition to sketch size before the shuffle); the CMS ≥-truth
    // guarantee shows up as a gate-verified nonnegative overcount
    // column for the exact top-20 tokens.
    QueryDef("q142_cms_heavy_hitters", Some(s"""${toksCte()},
      inst AS (SELECT unnest(tokens) AS token FROM toks),
      ct AS (SELECT token, COUNT(*) AS true_cnt FROM inst GROUP BY 1),
      top AS (SELECT token, true_cnt FROM ct ORDER BY true_cnt DESC, token LIMIT 20),
      h AS (SELECT token, t.range AS r,
              CAST('0x' || substr(md5(t.range || ':' || token), 1, 8) AS BIGINT)
                % 4096 AS b
            FROM inst, range(0, 4) t),
      sk AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM h GROUP BY 1, 2),
      est AS (SELECT q.token, MIN(COALESCE(sk.cnt, 0)) AS cms_est
              FROM (SELECT token, t.range AS r,
                      CAST('0x' || substr(md5(t.range || ':' || token), 1, 8) AS BIGINT)
                        % 4096 AS b
                    FROM top, range(0, 4) t) q
              LEFT JOIN sk ON sk.r = q.r AND sk.b = q.b
              GROUP BY 1)
      SELECT t.token, t.true_cnt, e.cms_est, e.cms_est - t.true_cnt AS overcount
      FROM top t JOIN est e USING (token) ORDER BY token"""),
      (s, dir) => {
        val inst = tokenized(s, dir).select(explode(col("tokens")).as("token"))
        val ct = inst.groupBy("token").agg(count(lit(1)).as("true_cnt"))
        val top = ct.orderBy(col("true_cnt").desc, col("token")).limit(20)
        val sk = graft.functions.CountMin.sketch(inst, col("token"), lit(1L),
          depth = 4, width = 4096)
        graft.functions.CountMin.estimate(top, col("token"), sk,
            depth = 4, width = 4096)
          .select(col("token"), col("true_cnt"), col("cms_est"),
            (col("cms_est") - col("true_cnt")).as("overcount"))
          .orderBy("token")
      }),

    // ---- q146: CMS SHARD MERGE under the gate — the mergeability
    // claim where the driver can verify it: build one sketch per
    // DISJOINT corpus shard (doc_id parity), merge counter-wise
    // (CountMin.merge — union + one hash agg), and estimate the top-20
    // tokens from BOTH the merged and the whole-corpus sketch. The
    // merge_drift column is computed (not asserted) in both engines;
    // its all-zero hash match IS the proof that shard-local builds +
    // counter addition equal the monolithic build — the shape that
    // lets 100 TB sketch where the data lives and ship only
    // depth×width counters.
    QueryDef("q146_cms_shard_merge", Some(s"""${toksCte()},
      inst AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      ct AS (SELECT token, COUNT(*) AS true_cnt FROM inst GROUP BY 1),
      top AS (SELECT token, true_cnt FROM ct ORDER BY true_cnt DESC, token LIMIT 20),
      hA AS (SELECT token, t.range AS r,
               CAST('0x' || substr(md5(t.range || ':' || token), 1, 8) AS BIGINT)
                 % 4096 AS b
             FROM inst, range(0, 4) t WHERE doc_id % 2 = 0),
      skA AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM hA GROUP BY 1, 2),
      hB AS (SELECT token, t.range AS r,
               CAST('0x' || substr(md5(t.range || ':' || token), 1, 8) AS BIGINT)
                 % 4096 AS b
             FROM inst, range(0, 4) t WHERE doc_id % 2 = 1),
      skB AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM hB GROUP BY 1, 2),
      skM AS (SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS cnt
              FROM (SELECT * FROM skA UNION ALL SELECT * FROM skB) GROUP BY 1, 2),
      hW AS (SELECT token, t.range AS r,
               CAST('0x' || substr(md5(t.range || ':' || token), 1, 8) AS BIGINT)
                 % 4096 AS b
             FROM inst, range(0, 4) t),
      skW AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM hW GROUP BY 1, 2),
      q AS (SELECT token, true_cnt, t.range AS r,
              CAST('0x' || substr(md5(t.range || ':' || token), 1, 8) AS BIGINT)
                % 4096 AS b
            FROM top, range(0, 4) t),
      estM AS (SELECT q.token, q.true_cnt, MIN(COALESCE(skM.cnt, 0)) AS merged_est
               FROM q LEFT JOIN skM ON skM.r = q.r AND skM.b = q.b GROUP BY 1, 2),
      estW AS (SELECT q.token, MIN(COALESCE(skW.cnt, 0)) AS whole_est
               FROM q LEFT JOIN skW ON skW.r = q.r AND skW.b = q.b GROUP BY 1)
      SELECT m.token, m.true_cnt, m.merged_est, w.whole_est,
             m.merged_est - w.whole_est AS merge_drift
      FROM estM m JOIN estW w USING (token) ORDER BY token"""),
      (s, dir) => {
        import graft.functions.CountMin
        // 4 consumers (true counts + 3 sketch builds): materialize the
        // exploded instance table once, not once per branch
        val inst = tokenized(s, dir)
          .select(col("doc_id"), explode(col("tokens")).as("token"))
          .localCheckpoint()
        val top = inst.groupBy("token").agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("token")).limit(20)
          .localCheckpoint()
        val skA = CountMin.sketch(inst.where(col("doc_id") % 2 === 0),
          col("token"), lit(1L), depth = 4, width = 4096)
        val skB = CountMin.sketch(inst.where(col("doc_id") % 2 === 1),
          col("token"), lit(1L), depth = 4, width = 4096)
        val merged = CountMin.merge(skA, skB)
        val whole = CountMin.sketch(inst, col("token"), lit(1L),
          depth = 4, width = 4096)
        val eM = CountMin.estimate(top, col("token"), merged, depth = 4, width = 4096)
          .withColumnRenamed("cms_est", "merged_est")
        val eW = CountMin.estimate(top.drop("true_cnt"), col("token"), whole,
            depth = 4, width = 4096)
          .withColumnRenamed("cms_est", "whole_est")
        eM.join(eW, "token")
          .select(col("token"), col("true_cnt"), col("merged_est"),
            col("whole_est"),
            (col("merged_est") - col("whole_est")).as("merge_drift"))
          .orderBy("token")
      }),

    // ---- q143: 35-core of the SimHash near-dup graph (graph.KCore,
    // 5 pinned peel rounds — the q124 fixed-iteration pattern; the
    // corpus converges in ≤3 at every SF and peeling a fixpoint is a
    // no-op). The structural community filter over dup evidence: LSH
    // noise edges form low-degree fringes that peel away round by
    // round (each removal can cascade its neighbors below k), genuine
    // dup families are near-cliques and survive with their in-core
    // degree. Each round = one endpoint hash-count + two semi-joins,
    // materialized through the shared checkpoint dial.
    QueryDef("q143_kcore", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
                CASE WHEN COALESCE(list_sum(list_transform(list_distinct(tokens),
                     t -> CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                               THEN 1 ELSE -1 END)), 0) >= 0
                     THEN '1' ELSE '0' END), '') AS sig
              FROM toks),
      bits AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN substr(sig, i, 1) = '1'
                             THEN (1::BIGINT << (32 - i)) ELSE 0 END)) AS BIGINT) AS sb
               FROM sig),
      band AS (SELECT doc_id, sb, t.range AS b,
                      (sb >> ((3 - t.range) * 8)) & 255 AS chunk
               FROM bits, range(0, 4) t),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sb AS sb_a, b.sb AS sb_b
               FROM band a JOIN band b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      s0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM cand
            WHERE bit_count(xor(sb_a, sb_b)) <= 3),
      ${kcorePeelCtes(k = 35, rounds = 5)}
      SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
      FROM (SELECT u AS id FROM s5 UNION ALL SELECT v AS id FROM s5)
      GROUP BY 1 ORDER BY doc_id"""),
      (s, dir) =>
        graft.graph.KCore.kCore(
            Dedup.simhashNearDups(
                tokenized(s, dir).where(col("doc_id") < 200), "doc_id", "tokens")
              .select("id_a", "id_b"),
            k = 35, rounds = 5)
          .select(col("id").as("doc_id"), col("core_deg"))
          .orderBy("doc_id")),

    // ---- q147: label propagation over the SimHash near-dup graph
    // (graph.LabelProp, 4 pinned synchronous rounds — the q124/q143
    // fixed-iteration pattern). The community view of the same dup
    // evidence q143 prunes: min-id components over-merge through a
    // single LSH noise edge, while plurality voting lets each dense
    // dup family keep its own label and outvote the bridge. Per round:
    // one equi-join + two hash aggs (the winner is min(struct(-n,
    // label)) over neighbor-plus-self ballots — mergeable, no per-node
    // window), through the shared checkpoint dial.
    QueryDef("q147_label_prop", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
                CASE WHEN COALESCE(list_sum(list_transform(list_distinct(tokens),
                     t -> CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                               THEN 1 ELSE -1 END)), 0) >= 0
                     THEN '1' ELSE '0' END), '') AS sig
              FROM toks),
      bits AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN substr(sig, i, 1) = '1'
                             THEN (1::BIGINT << (32 - i)) ELSE 0 END)) AS BIGINT) AS sb
               FROM sig),
      band AS (SELECT doc_id, sb, t.range AS b,
                      (sb >> ((3 - t.range) * 8)) & 255 AS chunk
               FROM bits, range(0, 4) t),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sb AS sb_a, b.sb AS sb_b
               FROM band a JOIN band b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      p0 AS MATERIALIZED (SELECT id_a, id_b FROM cand
            WHERE bit_count(xor(sb_a, sb_b)) <= 3),
      edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p0
            UNION ALL SELECT id_b AS u, id_a AS v FROM p0),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM toks),
      ${lpaCtes(rounds = 4)}
      SELECT id AS doc_id, CAST(label AS BIGINT) AS label
      FROM l4 ORDER BY doc_id"""),
      (s, dir) => {
        val t = tokenized(s, dir).where(col("doc_id") < 200)
          .localCheckpoint() // nodes AND pair building read it
        val pairs = Dedup.simhashNearDups(t, "doc_id", "tokens")
          .select("id_a", "id_b")
        graft.graph.LabelProp.run(t.select("doc_id"), "doc_id", pairs,
            rounds = 4)
          .select(col("id").as("doc_id"), col("label"))
          .orderBy("doc_id")
      }),

    // ---- q149: held-out bigram-LM perplexity filter — the CCNet-shape
    // quality signal one rung above q93's unigram surprisal: train an
    // add-one-smoothed conditional bigram model p(w2|w1) on the train
    // split (doc_id % 5 != 0) and score the HELD-OUT split by average
    // negative log-likelihood, so the model can never memorize the doc
    // it scores (the leakage-safe form q97 establishes for eval
    // splits). Scale shape: both count tables (observed bigrams,
    // prefix counts) stay distributed and join back on their token
    // keys — never collected, never broadcast (at 100 TB the bigram
    // table is huge); only the 1-row vocabulary size rides a broadcast
    // cross join. Two shuffle joins + one hash agg on the eval side.
    // Parity: counts are exact longs; the smoothed probability is one
    // double division with an identical expression tree in both
    // engines; avg(-ln) is the order-dependent float reduction →
    // round(.,6) (the q93/q106 adjudication); `flagged` compares the
    // ROUNDED value, so both engines test the same double.
    QueryDef("q149_bigram_lm", Some(s"""${toksCte()},
      tr AS (SELECT doc_id, tokens FROM toks WHERE doc_id % 5 <> 0),
      cb AS (SELECT g, COUNT(*) AS cb FROM (
               SELECT unnest(list_transform(range(1, len(tokens)),
                 i -> tokens[i] || ' ' || tokens[i+1])) AS g
               FROM tr WHERE len(tokens) >= 2) GROUP BY g),
      cu AS (SELECT w1, COUNT(*) AS cu FROM (
               SELECT unnest(list_transform(range(1, len(tokens)),
                 i -> tokens[i])) AS w1
               FROM tr WHERE len(tokens) >= 2) GROUP BY w1),
      vv AS (SELECT COUNT(DISTINCT t) AS v
             FROM (SELECT unnest(tokens) AS t FROM tr)),
      eb AS (SELECT doc_id, u.w1 AS w1, u.g AS g FROM (
               SELECT doc_id, unnest(list_transform(range(1, len(tokens)),
                 i -> {'w1': tokens[i],
                       'g': tokens[i] || ' ' || tokens[i+1]})) AS u
               FROM toks WHERE doc_id % 5 = 0 AND len(tokens) >= 2)),
      agg AS (SELECT e.doc_id, COUNT(*) AS n_bigrams,
                ROUND(AVG(-ln((COALESCE(cb.cb, 0) + 1)::DOUBLE
                  / (COALESCE(cu.cu, 0) + (SELECT v FROM vv))::DOUBLE)), 6)
                  AS avg_nll
              FROM eb e LEFT JOIN cb ON e.g = cb.g
                        LEFT JOIN cu ON e.w1 = cu.w1
              GROUP BY e.doc_id)
      SELECT doc_id, n_bigrams, avg_nll,
             avg_nll > CAST(3.4 AS DOUBLE) AS flagged
      FROM agg ORDER BY doc_id"""),
      (s, dir) => {
        // 4 consumers (bigram counts, prefix counts, vocab, eval side)
        val toks = tokenized(s, dir).localCheckpoint()
        val tr = toks.where(pmod(col("doc_id"), lit(5)) =!= 0)
        val trLong = tr.where(size(col("tokens")) >= 2)
        val cb = trLong
          .select(explode(graft.functions.WordShingles(col("tokens"), 2,
            distinct = false)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("cb"))
        val cu = trLong
          .select(explode(expr("slice(tokens, 1, size(tokens) - 1)"))
            .as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("cu"))
        val vv = tr.select(explode(col("tokens")).as("t"))
          .agg(countDistinct("t").as("v"))
        val eb = toks
          .where(pmod(col("doc_id"), lit(5)) === 0 &&
            size(col("tokens")) >= 2)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(tokens) - 1),
               i -> struct(tokens[i-1] AS w1,
                           concat(tokens[i-1], ' ', tokens[i]) AS g))"""))
            .as("u"))
          .select(col("doc_id"), col("u.w1").as("w1"), col("u.g").as("g"))
        val nll = -log((coalesce(col("cb"), lit(0L)) + lit(1L))
          .cast("double")
          / (coalesce(col("cu"), lit(0L)) + col("v")).cast("double"))
        eb.join(cb, Seq("g"), "left").join(cu, Seq("w1"), "left")
          .crossJoin(broadcast(vv))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(nll), 6).as("avg_nll"))
          .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
            (col("avg_nll") > 3.4).as("flagged"))
          .orderBy("doc_id")
      }),

    // ---- q155: the sketch PANEL — one corpus pass, three portable
    // artifacts per language: HLL distinct 4-gram shingles (m=1024),
    // the KMV bottom-k sample of the same shingle space (k=512, its
    // buffer head rides along as the sampling proof), and the
    // bucket-histogram median document length — the one-read dashboard
    // a 100 TB corpus intake job ships instead of three scans. The
    // shingle explode is materialized ONCE and feeds exact count + both
    // distinct sketches; every sketch partial-aggregates before its
    // exchange (the family's plan-locked shape). Gate value beyond
    // composition: per-lang shingle cardinality lands the non-en
    // languages INSIDE the HLL mid-range crossover at sf0.001/0.01
    // (hll_crossover = true), so the round-7 bias-corrected branch —
    // unreachable from q148's cardinalities — is hash-verified against
    // DuckDB on real data; en (and everything at sf0.1) covers the
    // uncorrected raw branch in the same result set.
    QueryDef("q155_sketch_panel", Some({
      import graft.functions.{HyperLogLog, Kmv}
      val m = 1024
      val kk = 512
      s"""WITH t AS (SELECT doc_id, lang, n_chars,
              list_filter(regexp_split_to_array(lower(text), '\\W+'),
                          x -> x <> '' AND x NOT IN ('the','a')) AS tokens
            FROM documents),
      shl AS (SELECT lang, unnest(list_distinct(list_transform(range(1, len(tokens) - 2),
                i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]))) AS item
              FROM t WHERE len(tokens) >= 4),
      d AS (SELECT DISTINCT lang, item FROM shl),
      ex AS (SELECT lang, COUNT(*) AS exact_distinct FROM d GROUP BY 1),
      ${HyperLogLog.hashCtesSql("item", "d", "lang", m, "w").trim},
      regs AS (SELECT lang, j, MAX(rho) AS mreg FROM wr GROUP BY 1, 2),
      hll AS (${HyperLogLog.estimateSql("SELECT lang, j, mreg FROM regs", "lang", m).trim}),
      kh AS (SELECT lang, ${Kmv.hash60Sql("item")} AS h FROM d),
      kmv AS (SELECT lang, list_sort(list(DISTINCT h))[1:$kk] AS kmv FROM kh GROUP BY 1),
      hw AS (SELECT lang, (n_chars - ((n_chars % 100) + 100) % 100) // 100 AS bucket,
                    COUNT(*) AS n
             FROM t GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs FROM hw GROUP BY 1),
      cum AS (SELECT lang, bucket,
                CAST(SUM(n) OVER (PARTITION BY lang ORDER BY bucket) AS BIGINT) AS cum
              FROM hw),
      pick AS (SELECT c.lang, t.n_docs, (1 * t.n_docs + 2 - 1) // 2 AS len_qrank,
                 MIN(c.bucket) AS len_bucket
               FROM cum c JOIN tot t USING (lang)
               WHERE c.cum >= (1 * t.n_docs + 2 - 1) // 2
               GROUP BY 1, 2, 3)
      SELECT h.lang, p.n_docs, x.exact_distinct,
             h.est AS hll_est,
             (0.7213 / (1.0 + 1.079 / $m.0)) * ${m.toLong * m}.0 * 2305843009213693952.0
               / (CAST(h.s_hi AS DOUBLE) * 140737488355328.0 + CAST(h.s_lo AS DOUBLE))
               > ${HyperLogLog.crossoverBounds(m).get._1}
             AND (0.7213 / (1.0 + 1.079 / $m.0)) * ${m.toLong * m}.0 * 2305843009213693952.0
               / (CAST(h.s_hi AS DOUBLE) * 140737488355328.0 + CAST(h.s_lo AS DOUBLE))
               < ${HyperLogLog.crossoverBounds(m).get._2}
               AS hll_crossover,
             ABS(h.est - x.exact_distinct) <= x.exact_distinct * 0.13 AS hll_err_ok,
             CAST(len(k.kmv) AS INTEGER) AS kmv_slots,
             k.kmv[1] AS kmv_h_first,
             ${Kmv.estimateSql("k.kmv", kk)} AS kmv_est,
             ABS(${Kmv.estimateSql("k.kmv", kk)} - x.exact_distinct)
               <= x.exact_distinct * 0.18 AS kmv_err_ok,
             p.len_qrank, p.len_bucket,
             p.len_bucket * 100 AS len_lo_chars,
             (p.len_bucket + 1) * 100 AS len_hi_chars
      FROM hll h JOIN ex x USING (lang) JOIN kmv k USING (lang) JOIN pick p USING (lang)
      ORDER BY h.lang"""
    }),
      (s, dir) => {
        import graft.functions.{BucketHistogram, HyperLogLog, Kmv}
        val m = 1024
        val kk = 512
        val t = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"),
            Tokenize.tokens(col("text"), Stop).as("tokens"))
          .localCheckpoint() // 2 consumers: shingle explode + length histogram
        val d = t.select(col("lang"),
            explode(Dedup.wordShingles(col("tokens"), 4)).as("item"))
          .distinct()
          .localCheckpoint() // 3 consumers: exact count, HLL registers, KMV buffer
        val ex = d.groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
        val hll = HyperLogLog.estimate(
          HyperLogLog.sketch(d, col("item"), Seq("lang"), m), Seq("lang"), m)
        val kmv = Kmv.sketch(d, col("item"), Seq("lang"), kk)
        val hist = BucketHistogram.sketch(t, col("n_chars"), Seq("lang"), 100L)
        val pick = BucketHistogram.quantiles(hist, Seq("lang"), Seq((1, 2)))
        // raw recomputed from the emitted exact split-sum words with the
        // estimateSql literal tree — classifies the regime bit-identically
        val raw = lit(0.7213 / (1.0 + 1.079 / 1024.0)) * lit(1048576.0) *
          lit(2305843009213693952.0) /
          (col("s_hi").cast("double") * lit(140737488355328.0) +
            col("s_lo").cast("double"))
        val (zoneLo, zoneHi) = HyperLogLog.crossoverBounds(m).get
        hll.join(ex, "lang").join(kmv, "lang")
          .join(pick.select(col("lang"), col("n_total").as("n_docs"),
            col("qrank").as("len_qrank"), col("bucket").as("len_bucket")), "lang")
          .select(col("lang"), col("n_docs"), col("exact_distinct"),
            col("est").as("hll_est"),
            (raw > lit(zoneLo) && raw < lit(zoneHi)).as("hll_crossover"),
            (abs(col("est") - col("exact_distinct")) <=
              col("exact_distinct") * 0.13).as("hll_err_ok"),
            size(col("kmv")).as("kmv_slots"),
            element_at(col("kmv"), 1).as("kmv_h_first"),
            Kmv.estimate(col("kmv"), kk).as("kmv_est"),
            (abs(Kmv.estimate(col("kmv"), kk) - col("exact_distinct")) <=
              col("exact_distinct") * 0.18).as("kmv_err_ok"),
            col("len_qrank"), col("len_bucket"),
            (col("len_bucket") * 100).as("len_lo_chars"),
            ((col("len_bucket") + 1) * 100).as("len_hi_chars"))
          .orderBy("lang")
      }),

    // ---- q158: KMV audience ROUTING — sketch-resemblance language ID,
    // the batch twin of the stateless streaming router
    // (EventStreams.kmvAudienceRoute): every document's 4-gram shingle
    // sketch (computed MAP-SIDE, functions.Kmv.arraySketch — no
    // aggregation) is Jaccard-scored against the 5 per-language
    // audience sketches, and the best-resembling audience wins (tie →
    // smallest name, the empty-shingle docs' deterministic fallback).
    // The audiences collect to a 5·k-long literal (the codebook
    // pattern), so the per-doc work is pure map-side array algebra —
    // routing 100 TB of incoming docs shuffles NOTHING; the argmax is
    // an aggregate() fold over the bounded audience array, never a
    // per-doc window. The oracle replays the same integer list algebra
    // (one ROW_NUMBER window DuckDB-side only), so doc sketch,
    // audience sketches, every Jaccard and the routed winner
    // hash-match. lang_match rides along as the quality readout —
    // shingle resemblance IS a language classifier here, and the gate
    // pins exactly how good.
    QueryDef("q158_kmv_route", Some({
      import graft.functions.Kmv
      val kk = 256
      s"""WITH t AS (SELECT doc_id, lang,
              list_filter(regexp_split_to_array(lower(text), '\\W+'),
                          x -> x <> '' AND x NOT IN ('the','a')) AS tokens
            FROM documents),
      docsh AS (SELECT doc_id, lang,
                  CASE WHEN len(tokens) >= 4 THEN
                    list_distinct(list_transform(range(1, len(tokens) - 2),
                      i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]))
                  ELSE [] END AS sh
                FROM t),
      dsk AS (SELECT doc_id, lang, ${Kmv.arraySketchSql("sh", kk)} AS dk FROM docsh),
      ai AS (SELECT lang, unnest(sh) AS item FROM docsh),
      d AS (SELECT DISTINCT lang, item FROM ai),
      kh AS (SELECT lang, ${Kmv.hash60Sql("item")} AS h FROM d),
      aud AS (SELECT lang, list_sort(list(DISTINCT h))[1:$kk] AS kmv FROM kh GROUP BY 1),
      x AS (SELECT dd.doc_id, dd.lang, a.lang AS audience,
              ${Kmv.jaccardSql("dd.dk", "a.kmv", kk)} AS jaccard
            FROM dsk dd CROSS JOIN aud a),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY jaccard DESC, audience ASC) AS rn FROM x)
      SELECT doc_id, lang, audience, jaccard, audience = lang AS lang_match
      FROM r WHERE rn = 1 ORDER BY doc_id"""
    }),
      (s, dir) => {
        import graft.functions.Kmv
        val kk = 256
        val t = docs(s, dir).select(col("doc_id"), col("lang"), col("text"),
            Tokenize.tokens(col("text"), Stop).as("tokens"))
          .localCheckpoint() // 2 consumers: audience build + routing
        // audience sketches: the bounded trained artifact (5 rows, k
        // longs each — the codebook-collect pattern)
        val audiences = Kmv.sketch(
            t.select(col("lang"),
              explode(Dedup.wordShingles(col("tokens"), 4)).as("item")),
            col("item"), Seq("lang"), kk)
          .collect()
          .map(r => (r.getString(0), r.getSeq[Long](1).toSeq))
          .sortBy(_._1).toSeq
        graft.streaming.EventStreams.kmvAudienceRoute(
            t.withColumn("ts", to_timestamp(lit("2026-01-01"))),
            audiences, nGram = 4, k = kk, stopWords = Stop)
          .join(t.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("audience"), col("jaccard"),
            (col("audience") === col("lang")).as("lang_match"))
          .orderBy("doc_id")
      }),

    // ---- q161: temperature-based corpus mixing — the multilingual-LM
    // sampling rule (alpha = 0.5): per-source char mass w_s is
    // reweighted to p_s ∝ sqrt(w_s) (small sources up-weighted, big
    // sources down-weighted — the dial between proportional alpha=1 and
    // uniform alpha=0), a 40%-of-corpus char budget is split as
    // budget_s = floor(B · p_s), and each source independently consumes
    // its budget in deterministic hash-priority order via the GROUPED
    // two-phase BudgetSelect (bounded bucket windows, never a per-group
    // corpus sort). Distinct from q94, which equalizes doc COUNTS by
    // Bernoulli thinning: this one allocates a token/char budget with a
    // temperature exponent and selects exactly to it.
    //
    // Exactness: w_s and the bucket/running sums are integer; the
    // sqrt→round(·,1e6) scaled-int step makes Σ r_s an exact long; p_s
    // and budget_s are single correctly-rounded double ops over exact
    // operands (identical trees both engines, floor'd back to long).
    // Priority = md5-16-bit/65536 — an exact dyadic rational.
    QueryDef("q161_temperature_mix", Some("""
      WITH w AS (SELECT source, SUM(n_chars) AS w FROM documents GROUP BY source),
      r AS (SELECT source, CAST(ROUND(SQRT(CAST(w AS DOUBLE)) * 1000000) AS BIGINT) AS r
            FROM w),
      tot AS (SELECT CAST(SUM(r) AS BIGINT) AS rt FROM r),
      b AS (SELECT CAST((SUM(w) * 2) // 5 AS BIGINT) AS btot FROM w),
      bud AS (SELECT source,
                CAST(FLOOR(CAST(btot AS DOUBLE)
                     * (CAST(r AS DOUBLE) / CAST(rt AS DOUBLE))) AS BIGINT) AS budget
              FROM r, tot, b),
      u AS (SELECT doc_id, source, n_chars,
              CAST('0x' || substr(md5(doc_id::VARCHAR || ':m'), 1, 4) AS BIGINT)
                / 65536.0 AS score
            FROM documents WHERE n_chars >= 1),
      sel AS (SELECT u.doc_id, u.source, u.n_chars, bud.budget,
                COALESCE(SUM(u.n_chars) OVER (PARTITION BY u.source
                  ORDER BY u.score DESC, u.doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
              FROM u JOIN bud USING (source))
      SELECT doc_id, source, n_chars, budget AS src_budget
      FROM sel WHERE bef < budget ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(s, dir)
        val w = d.groupBy("source").agg(sum("n_chars").as("w"))
        val r = w.select(col("source"),
          round(sqrt(col("w").cast("double")) * 1000000).cast("long").as("r"))
        val tot = r.agg(sum("r").cast("long").as("rt"))
        val b = w.agg(expr("CAST((SUM(w) * 2) DIV 5 AS BIGINT)").as("btot"))
        val bud = r.crossJoin(broadcast(tot)).crossJoin(broadcast(b))
          .select(col("source"),
            floor(col("btot").cast("double")
              * (col("r").cast("double") / col("rt").cast("double")))
              .cast("long").as("budget"))
        val scored = d.where(col("n_chars") >= 1)
          .select(col("doc_id"), col("source"), col("n_chars"),
            (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":m"))),
              1, 4), 16, 10).cast("long") / 65536.0).as("score"))
        graft.text.BudgetSelect
          .selectByBudgetGrouped(scored, "doc_id", "n_chars", "score", "source", bud)
          .join(broadcast(bud), "source")
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("budget").as("src_budget"))
          .orderBy("doc_id")
      }),

    // ---- q163: HyperBall ball series — the neighborhood function
    // N(v, r) for EVERY vertex of the SimHash near-dup graph at once
    // (Boldi & Vigna 2013), carried as one HLL sketch per vertex: each
    // round ships registers across edges and group-MAXes, so 3 rounds
    // cost 3 equi-joins + 3 mergeable hash aggs instead of |V| BFS
    // runs, and state is bounded by V·min(m, |ball|) rows however
    // large the balls grow. The oracle unrolls the same recurrence
    // over the same md5 register chain (hashCtesSql/estimateSql), so
    // registers AND estimates hash-match; only the linear-counting
    // ln gets round(·,6). m = 64 — the HyperBall paper's low-dial
    // regime; tiny balls here sit in the (near-exact) linear-counting
    // branch, the register algebra is what's under test.
    QueryDef("q163_hyperball", Some(s"""$hyperballCtes
      $hyperballEstsSql
      ORDER BY doc_id, r"""),
      (s, dir) => hyperballBalls(s, dir)
        .select(col("id").as("doc_id"), col("r"), col("v0"),
          col("n_present"), col("s_hi"), col("s_lo"), col("est"))
        .orderBy("doc_id", "r")),

    // ---- q164: harmonic centrality from the q163 ball series —
    // HC(v) = Σ_r (N(v,r) − N(v,r−1))/r, the disconnected-safe
    // closeness variant (unreachable vertices add 0, not ∞), truncated
    // at the pinned round count. The sum is a FIXED left-associated
    // 3-term expression over the per-round rounded `est` columns — a
    // pivot + arithmetic, never a float aggregation — so both engines
    // compute bit-identical centralities and agree on the (hc DESC,
    // doc_id) ranking of dup-family hubs.
    QueryDef("q164_harmonic_centrality", Some(s"""$hyperballCtes,
      ests AS MATERIALIZED (
      $hyperballEstsSql),
      piv AS (SELECT doc_id,
                MAX(CASE WHEN r = 0 THEN est END) AS b0,
                MAX(CASE WHEN r = 1 THEN est END) AS b1,
                MAX(CASE WHEN r = 2 THEN est END) AS b2,
                MAX(CASE WHEN r = 3 THEN est END) AS b3
              FROM ests GROUP BY doc_id)
      SELECT doc_id, (((b1 - b0) / 1.0) + ((b2 - b1) / 2.0))
                     + ((b3 - b2) / 3.0) AS hc
      FROM piv ORDER BY hc DESC, doc_id"""),
      (s, dir) => graft.graph.HyperBall
        .harmonicCentrality(hyperballBalls(s, dir), rounds = hyperballRounds)
        .select(col("id").as("doc_id"), col("hc"))
        .orderBy(col("hc").desc, col("doc_id"))),

    // ---- q165: weighted sampling WITHOUT replacement (Efraimidis &
    // Spirakis 2006): each doc draws priority ln(u)/w — u a
    // deterministic md5 dyadic rational in (0, 1], w = n_chars — and
    // the top-k priorities per source are EXACTLY a weight-
    // proportional without-replacement draw (A-ES). The length-biased
    // complement of q161's budget mix: q161 fills a budget from a
    // uniform priority; this draws k docs with P ∝ weight — the
    // "sample heldout shards by token mass" step of corpus assembly.
    // Scale shape: selection is the mergeable k-slot TopKAggregator,
    // never a per-source window — map sides collapse to ≤ k rows per
    // (source, partition) before the exchange — and only the k·sources
    // winner table joins back for its payload (broadcast). Parity: u
    // is integer-exact; ln/÷ are the libm + single-IEEE-op pair both
    // engines share (q149's adjudication); the emitted columns carry
    // NO floats — selection and rank only — so near-tie ordering is
    // the sole (astronomically unlikely) cross-engine surface.
    QueryDef("q165_weighted_sample", Some("""
      WITH u AS (SELECT doc_id, source, n_chars,
               ln((CAST('0x' || substr(md5(doc_id::VARCHAR || ':w'), 1, 13) AS BIGINT) + 1)
                  / 4503599627370496.0) / n_chars AS key
             FROM documents WHERE n_chars >= 1),
      r AS (SELECT doc_id, source, n_chars,
              CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY key DESC, doc_id) AS INTEGER) AS rk
            FROM u)
      SELECT source, rk, doc_id, n_chars FROM r WHERE rk <= 10
      ORDER BY source, rk"""),
      (s, dir) => {
        val d = docs(s, dir)
        val u = d.where(col("n_chars") >= 1)
          .select(col("doc_id"), col("source"),
            (log((conv(substring(md5(concat(col("doc_id").cast("string"),
                lit(":w"))), 1, 13), 16, 10).cast("long") + 1)
              / lit(4503599627370496.0)) / col("n_chars")).as("key"))
        val sel = u.groupBy("source")
          .agg(graft.functions.TopKAggregator.topK(10)(
            col("key"), col("doc_id")).as("tk"))
          .select(col("source"), posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("source"), (col("pos") + 1).as("rk"),
            col("t.cand_id").as("doc_id"))
        d.select(col("doc_id"), col("n_chars")).join(broadcast(sel), "doc_id")
          .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
          .orderBy("source", "rk")
      }),

    // ---- q166: Jensen–Shannon drift monitor — JS divergence between
    // the unigram distributions of two corpus slices (doc_id parity
    // standing in for old/new snapshots), with per-token attribution:
    // the top-20 tokens driving the drift plus the global JS. The
    // canary a pipeline waves when a new crawl shifts vocabulary.
    // Float discipline: the per-token JS integrand 0.5·p·ln(p/m) +
    // 0.5·q·ln(q/m) (≥ 0 by log-sum, 0·ln0 := 0) is deterministic —
    // exact long/long divisions, libm ln, fixed expression tree — and
    // is immediately scaled to NANOS (round-to-integer of a double is
    // the one cross-engine-safe rounding: the exact decimal of a
    // binary double ties at .5 only when the binary fraction IS 2^-1,
    // and both engines round that away from zero), so the global JS
    // is an EXACT integer sum — no order-dependent float reduction
    // anywhere. Scale shape: one token-level hash agg onto the vocab
    // (conditional sums, no join between the slices), 1-row total
    // broadcasts, mergeable TakeOrdered top-20; the vocab table is
    // localCheckpointed once and feeds both the top-k and the sum.
    QueryDef("q166_js_drift", Some(s"""${toksCte()},
      tok AS (SELECT doc_id % 2 AS sl, unnest(tokens) AS token FROM toks),
      c AS (SELECT token,
              CAST(SUM(CASE WHEN sl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p,
              CAST(SUM(CASE WHEN sl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_q
            FROM tok GROUP BY token),
      n AS (SELECT CAST(SUM(cnt_p) AS BIGINT) AS np,
                   CAST(SUM(cnt_q) AS BIGINT) AS nq FROM c),
      j AS (SELECT token, cnt_p, cnt_q,
              CAST(ROUND(((CASE WHEN cnt_p > 0
                     THEN 0.5 * (cnt_p / np) * ln((cnt_p / np)
                          / (((cnt_p / np) + (cnt_q / nq)) / 2.0))
                     ELSE 0.0 END)
                  + (CASE WHEN cnt_q > 0
                     THEN 0.5 * (cnt_q / nq) * ln((cnt_q / nq)
                          / (((cnt_p / np) + (cnt_q / nq)) / 2.0))
                     ELSE 0.0 END)) * 1000000000) AS BIGINT) AS c_nanos
            FROM c, n),
      top AS (SELECT token, cnt_p, cnt_q, c_nanos FROM j
              ORDER BY c_nanos DESC, token LIMIT 20),
      tot AS (SELECT CAST(SUM(c_nanos) AS BIGINT) AS js_total_nanos FROM j)
      SELECT token, cnt_p, cnt_q, c_nanos, js_total_nanos
      FROM top, tot ORDER BY c_nanos DESC, token"""),
      (s, dir) => jsDrift(s, dir)),

    // ---- q168: the neighborhood function proper — HyperBall's
    // headline readout (Boldi & Vigna §1): N(r) = Σ_v |B(v, r)|, the
    // number of reachable pairs within distance r, its per-vertex
    // average, and the cumulative reach fraction N(r)/N(R) whose 0.9
    // crossing IS the effective diameter. Reuses the q163 ball series;
    // per-round sums are over MICRO-scaled integer estimates
    // (round-to-integer of the already-6-rounded est — cross-engine
    // safe, and the sum becomes exact/order-free), so the only floats
    // are single divisions of exact longs. The dup-graph reading:
    // reach_frac ≈ flat past r=1 says dup families are tight stars,
    // not chains — exactly why 3 HyperBall rounds suffice where a
    // per-pair BFS would be Θ(V²).
    QueryDef("q168_distance_distribution", Some(s"""$hyperballCtes,
      ests AS MATERIALIZED (
      $hyperballEstsSql),
      agg AS (SELECT r,
                CAST(SUM(CAST(ROUND(est * 1000000) AS BIGINT)) AS BIGINT) AS sum_ball_micros,
                CAST(COUNT(*) AS BIGINT) AS n_vertices
              FROM ests GROUP BY r),
      tot AS (SELECT sum_ball_micros AS tot_micros FROM agg WHERE r = 3)
      SELECT r, n_vertices, sum_ball_micros,
             CAST(sum_ball_micros AS DOUBLE) / CAST(n_vertices AS DOUBLE)
               / 1000000.0 AS avg_ball,
             sum_ball_micros / tot_micros AS reach_frac,
             sum_ball_micros / tot_micros >= 0.9 AS eff_radius_reached
      FROM agg, tot ORDER BY r"""),
      (s, dir) => {
        val agg = hyperballBalls(s, dir).groupBy("r")
          .agg(sum(round(col("est") * 1000000).cast("long")).cast("long")
              .as("sum_ball_micros"),
            count(lit(1)).cast("long").as("n_vertices"))
        val tot = agg.where(col("r") === hyperballRounds)
          .select(col("sum_ball_micros").as("tot_micros"))
        agg.crossJoin(broadcast(tot))
          .select(col("r"), col("n_vertices"), col("sum_ball_micros"),
            (col("sum_ball_micros").cast("double")
              / col("n_vertices").cast("double") / lit(1000000.0)).as("avg_ball"),
            (col("sum_ball_micros") / col("tot_micros")).as("reach_frac"),
            (col("sum_ball_micros") / col("tot_micros") >= 0.9)
              .as("eff_radius_reached"))
          .orderBy("r")
      }),

    // ---- q170: PERSONALIZED PageRank over the q124 verified dup
    // graph — the walk restarts into a 10-doc seed set instead of
    // teleporting uniformly, so rank measures multi-hop relatedness TO
    // THE SEEDS: the "expand this labeled set / find docs like these"
    // primitive (weighs ALL paths, unlike a BFS frontier). Same
    // per-iteration shape as q124 (one equi-join + one hash agg) plus
    // a join against the materialized teleport table; seeds' own ranks
    // dominate (they hold the restart mass), their dup partners rank
    // next, untouched components sit at exactly 0. Teleport constants
    // are CAST to DOUBLE on the SQL side so both engines compute the
    // same (1 − d) binary double — not DuckDB's exact DECIMAL 0.15.
    QueryDef("q170_personalized_pagerank", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      ver AS (SELECT id_a, id_b FROM
                (SELECT c.id_a, c.id_b,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand c JOIN sh a ON a.doc_id = c.id_a
                             JOIN sh b ON b.doc_id = c.id_b)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ver
                UNION ALL SELECT id_b, id_a FROM ver),
      nodes AS MATERIALIZED (SELECT doc_id AS id FROM toks),
      seeds AS (SELECT id FROM nodes WHERE id < 10),
      sn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM seeds),
      p0 AS MATERIALIZED (SELECT n.id,
               CASE WHEN s.id IS NULL THEN 0.0
                    ELSE CAST(1 AS DOUBLE) / (SELECT ns FROM sn) END AS p
             FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
      deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY src),
      pr0 AS MATERIALIZED (SELECT id, p AS rank FROM p0),
      ${(1 to 3).map(i => s"""pr$i AS MATERIALIZED (
        SELECT nd.id,
               (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * nd.p
               + CAST(0.85 AS DOUBLE) * COALESCE(SUM(pv.rank / d.outdeg), 0) AS rank
        FROM p0 nd
        LEFT JOIN edges e ON e.dst = nd.id
        LEFT JOIN pr${i - 1} pv ON pv.id = e.src
        LEFT JOIN deg d ON d.id = e.src
        GROUP BY nd.id, nd.p)""").mkString(",\n      ")}
      SELECT id AS doc_id, ROUND(rank, 6) AS rank
      FROM pr3 ORDER BY doc_id"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val cand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens", 4, 2,
          maxBucketSize = 50)
        val verified = Dedup.verifyJaccard(toks, "doc_id", "tokens", cand)
          .where(col("jaccard") >= 0.5)
        val edges = verified.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(verified.select(col("id_b").as("src"), col("id_a").as("dst")))
        val nodes = toks.select("doc_id")
        graft.graph.PageRank.runPersonalized(nodes, edges,
            nodes.where(col("doc_id") < 10), iters = 3)
          .select(col("id").as("doc_id"), round(col("rank"), 6).as("rank"))
          .orderBy("doc_id")
      }),

    // ---- q173: snapshot diff — the "what changed since the last
    // crawl" report: two corpus snapshots (simulated by modulus slices
    // + a fingerprint perturbation standing in for re-crawled docs)
    // full-outer-joined on id, each doc classified
    // added/removed/modified/unchanged by comparing CONTENT
    // FINGERPRINTS — never the text itself, which is the 100 TB point:
    // the diff join moves (id, source, 32-byte fp) rows, one shuffle
    // join + one hash agg regardless of document size, and the md5
    // columns prune the text read out of everything downstream of the
    // fingerprint projection. Counts per source × status feed the
    // ingest dashboard; exact integers → hash-exact.
    QueryDef("q173_snapshot_diff", Some("""
      WITH olds AS (SELECT doc_id, source, md5(text) AS fp
                    FROM documents WHERE doc_id % 11 <> 3),
      news AS (SELECT doc_id, source,
                 CASE WHEN doc_id % 17 = 2 THEN md5(text || ':v2')
                      ELSE md5(text) END AS fp
               FROM documents WHERE doc_id % 13 <> 5),
      j AS (SELECT COALESCE(o.source, n.source) AS source,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.fp <> n.fp THEN 'modified'
                        ELSE 'unchanged' END AS status
            FROM olds o FULL JOIN news n ON n.doc_id = o.doc_id)
      SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n
      FROM j GROUP BY source, status ORDER BY source, status"""),
      (s, dir) => {
        val d = docs(s, dir)
        val olds = d.where(col("doc_id") % 11 =!= 3)
          .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
        val news = d.where(col("doc_id") % 13 =!= 5)
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 17 === 2,
              md5(concat(col("text"), lit(":v2"))))
              .otherwise(md5(col("text"))).as("fp"))
        olds.as("o").join(news.as("n"),
            col("n.doc_id") === col("o.doc_id"), "full")
          .select(coalesce(col("o.source"), col("n.source")).as("source"),
            when(col("o.doc_id").isNull, "added")
              .when(col("n.doc_id").isNull, "removed")
              .when(col("o.fp") =!= col("n.fp"), "modified")
              .otherwise("unchanged").as("status"))
          .groupBy("source", "status").agg(count(lit(1)).cast("long").as("n"))
          .orderBy("source", "status")
      }),

    // ---- q175: top-N per group with an OTHER rollup — the reporting
    // primitive behind every "top 3 tokens per source (and how much is
    // everything else)" dashboard panel. The OTHER row is what keeps
    // top-N honest: without it a reader can't tell whether the top 3
    // cover 90% or 9% of the mass. Scale shape: one hash agg onto the
    // (source, token) grid, then the mergeable k-slot buffer picks
    // each group's top 3 (counts ride as exact doubles — no per-group
    // window, ≤ k rows per (group, partition) cross the exchange), and
    // OTHER = group total − top sum over the same materialized count
    // table. All integers → hash-exact.
    QueryDef("q175_topn_other", Some("""
      WITH d AS (SELECT source,
                   list_filter(regexp_split_to_array(lower(text), '\W+'),
                               t -> t <> '' AND t NOT IN ('the','a')) AS tokens
                 FROM documents),
      c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT source, unnest(tokens) AS token FROM d) GROUP BY 1, 2),
      r AS (SELECT source, token, n,
              CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY n DESC, token) AS INTEGER) AS rk
            FROM c),
      top AS (SELECT source, rk, token, n FROM r WHERE rk <= 3),
      tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY source),
      oth AS (SELECT t.source, CAST(4 AS INTEGER) AS rk, '<other>' AS token,
                     t.total - COALESCE(s.topn, 0) AS n
              FROM tot t LEFT JOIN (SELECT source, CAST(SUM(n) AS BIGINT) AS topn
                                    FROM top GROUP BY source) s USING (source))
      SELECT source, rk, token, n FROM top
      UNION ALL SELECT source, rk, token, n FROM oth
      ORDER BY source, rk"""),
      (s, dir) => {
        val c = docs(s, dir)
          .select(col("source"),
            explode(Tokenize.tokens(col("text"), Stop)).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).cast("long").as("n"))
          .localCheckpoint() // feeds top-k AND group totals
        val top = c.groupBy("source")
          .agg(graft.functions.TopKAggregator.topKBinary(3)(
            col("n").cast("double"), col("token").cast("binary")).as("tk"))
          .select(col("source"), posexplode(col("tk")).as(Seq("pos", "t")))
          .select(col("source"), (col("pos") + 1).as("rk"),
            col("t.cand_id").cast("string").as("token"),
            col("t.sim").cast("long").as("n"))
        val tot = c.groupBy("source").agg(sum("n").cast("long").as("total"))
        val topsum = top.groupBy("source").agg(sum("n").cast("long").as("topn"))
        val oth = tot.join(topsum, Seq("source"), "left")
          .select(col("source"), lit(4).as("rk"), lit("<other>").as("token"),
            (col("total") - coalesce(col("topn"), lit(0L))).as("n"))
        top.unionByName(oth).orderBy("source", "rk")
      }),

    // ---- q176: phrase search over a POSITIONAL inverted index — the
    // search-engine primitive the token-set queries can't express:
    // find every document containing an exact token sequence (here the
    // corpus's own most frequent bigram, so the target exists at every
    // SF), with per-doc occurrence counts. The classic phrase-query
    // plan: filter each side of the positional self-join to ONE word's
    // postings (the phrase rides a 1-row broadcast, so the predicate
    // reaches both scans before any shuffle), then adjacency is a
    // (doc, pos) equi-join between the two postings lists — the join
    // moves postings of the phrase words only, never the full index.
    // Exact integer counts → hash-exact.
    QueryDef("q176_phrase_search", Some(s"""${toksCte()},
      bgc AS (SELECT g, COUNT(*) AS c FROM (
                SELECT unnest(list_transform(range(1, len(tokens)),
                       i -> tokens[i] || ' ' || tokens[i+1])) AS g
                FROM toks WHERE len(tokens) >= 2) GROUP BY g),
      bg AS (SELECT g AS phrase, string_split(g, ' ')[1] AS w1,
                    string_split(g, ' ')[2] AS w2
             FROM bgc ORDER BY c DESC, g LIMIT 1),
      tok AS (SELECT doc_id, CAST(unnest(range(1, len(tokens) + 1)) AS INTEGER) AS pos,
                     unnest(tokens) AS token
              FROM toks),
      m AS (SELECT t1.doc_id, bg.phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
            FROM tok t1, bg, tok t2
            WHERE t1.token = bg.w1 AND t2.doc_id = t1.doc_id
              AND t2.pos = t1.pos + 1 AND t2.token = bg.w2
            GROUP BY t1.doc_id, bg.phrase)
      SELECT doc_id, phrase, n_occ FROM m ORDER BY doc_id"""),
      (s, dir) => {
        val t = tokenized(s, dir)
          .localCheckpoint() // feeds bigram counts AND the positional index
        val bc = t.where(size(col("tokens")) >= 2)
          .select(explode(graft.functions.WordShingles(col("tokens"), 2,
            distinct = false)).as("g"))
          .groupBy("g").agg(count(lit(1)).as("c"))
        // corpus-wide argmax as a mergeable min(struct(-c, g)) — the
        // LabelProp plurality pattern, never a global sort
        val bg = broadcast(bc
          .agg(min(struct((-col("c")).as("nc"), col("g").as("g"))).as("m"))
          .select(col("m.g").as("phrase"),
            split(col("m.g"), " ")(0).as("w1"),
            split(col("m.g"), " ")(1).as("w2")))
        val tok = t.select(col("doc_id"),
          posexplode(col("tokens")).as(Seq("pos", "token")))
        val firsts = tok.crossJoin(bg).where(col("token") === col("w1"))
          .select(col("doc_id"), col("pos"), col("phrase"), col("w2"))
        firsts.join(tok.select(col("doc_id"), (col("pos") - 1).as("pos"),
              col("token").as("t2")), Seq("doc_id", "pos"))
          .where(col("t2") === col("w2"))
          .groupBy("doc_id", "phrase").agg(count(lit(1)).cast("long").as("n_occ"))
          .select(col("doc_id"), col("phrase"), col("n_occ"))
          .orderBy("doc_id")
      }),

    // ---- q179: contrastive negative sampling — build (anchor,
    // positive, negatives...) training triplets from the SimHash
    // near-dup positives: each anchor gets k=3 negatives drawn from a
    // SHARED hash-ranked pool (the in-batch/shared-negatives pattern
    // real contrastive pipelines use), skipping pool docs that are the
    // anchor itself or one of its positives. The pool is a global
    // mergeable bottom-k over md5 priorities — a 16-row broadcast —
    // so negative assignment is anchors × 16 map-side work, NEVER an
    // anchor×corpus join; rejected pool slots just shift later ones
    // up (rank = dense rank over surviving pool order). Fully
    // deterministic: pool order and survivors are pure hash functions.
    QueryDef("q179_negative_sampling", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
                CASE WHEN COALESCE(list_sum(list_transform(list_distinct(tokens),
                     t -> CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                               THEN 1 ELSE -1 END)), 0) >= 0
                     THEN '1' ELSE '0' END), '') AS sig
              FROM toks),
      bits AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN substr(sig, i, 1) = '1'
                             THEN (1::BIGINT << (32 - i)) ELSE 0 END)) AS BIGINT) AS sb
               FROM sig),
      band AS (SELECT doc_id, sb, t.range AS b,
                      (sb >> ((3 - t.range) * 8)) & 255 AS chunk
               FROM bits, range(0, 4) t),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sb AS sb_a, b.sb AS sb_b
               FROM band a JOIN band b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      pos AS MATERIALIZED (SELECT id_a, id_b FROM cand
            WHERE bit_count(xor(sb_a, sb_b)) <= 3),
      pool AS MATERIALIZED (SELECT doc_id AS neg_id,
                     CAST(ROW_NUMBER() OVER (ORDER BY md5(doc_id::VARCHAR || ':neg'),
                                             doc_id) AS INTEGER) AS slot
              FROM toks ORDER BY md5(doc_id::VARCHAR || ':neg'), doc_id LIMIT 16),
      anch AS (SELECT DISTINCT id_a AS anchor FROM pos),
      ok AS (SELECT a.anchor, p.neg_id, p.slot
             FROM anch a CROSS JOIN pool p
             WHERE p.neg_id <> a.anchor AND NOT EXISTS
               (SELECT 1 FROM pos x WHERE (x.id_a = a.anchor AND x.id_b = p.neg_id)
                                       OR (x.id_b = a.anchor AND x.id_a = p.neg_id))),
      rk AS (SELECT anchor, neg_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY slot)
                    AS INTEGER) AS rk
             FROM ok)
      SELECT anchor, rk, neg_id FROM rk WHERE rk <= 3
      ORDER BY anchor, rk"""),
      (s, dir) => {
        val t = tokenized(s, dir).where(col("doc_id") < 200).localCheckpoint()
        val pos = Dedup.simhashNearDups(t, "doc_id", "tokens")
          .select("id_a", "id_b").localCheckpoint() // anchors AND the skip filter
        // global 16-slot pool: mergeable bottom-k on md5 priority
        val pool = broadcast(t
          .agg(graft.functions.TopKAggregator.bottomK(16)(
            md5(concat(col("doc_id").cast("string"), lit(":neg"))).cast("binary"),
            col("doc_id")).as("bk"))
          .select(posexplode(col("bk")).as(Seq("pos0", "p")))
          .select((col("pos0") + 1).as("slot"), col("p.id").as("neg_id")))
        val anch = pos.select(col("id_a").as("anchor")).distinct()
        val skip = pos.select(col("id_a").as("anchor"), col("id_b").as("neg_id"))
          .unionByName(pos.select(col("id_b").as("anchor"), col("id_a").as("neg_id")))
        val ok = anch.crossJoin(pool)
          .where(col("neg_id") =!= col("anchor"))
          .join(skip, Seq("anchor", "neg_id"), "left_anti")
        // surviving-slot rank: ≤16 pool rows per anchor — a bounded
        // window (the q43 pattern), not a corpus sort
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("anchor").orderBy("slot")
        ok.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .select(col("anchor"), col("rk"), col("neg_id"))
          .orderBy("anchor", "rk")
      }),

    // ---- q191: classifier calibration (reliability curve) — before a
    // pipeline trusts the q31 language-ID score as a filter threshold,
    // it must know whether score ≈ P(correct): bin the en-marker ratio
    // into 5%-wide bins and compare each bin's observed 'en' rate
    // against its score range. One corpus scan + one ≤21-key hash agg;
    // the bin index is floor(exact-ratio × 20) — the same double in
    // both engines — and observed rates are exact int/int divisions.
    QueryDef("q191_calibration", Some("""
      WITH raw AS (SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(lower(text), '\W+'),
                                 t -> t <> '') AS tokens
                   FROM documents),
      s AS (SELECT lang,
              len(list_filter(tokens,
                  t -> t IN ('the','a','of','to','and','in','is','it')))
                / len(tokens) AS score
            FROM raw WHERE len(tokens) > 0)
      SELECT CAST(FLOOR(score * 20) AS BIGINT) AS bin,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               / CAST(COUNT(*) AS BIGINT) AS en_rate
      FROM s GROUP BY 1 ORDER BY bin"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("lang"), Tokenize.tokens(col("text")).as("tokens"))
          .where(size(col("tokens")) > 0)
          .select(col("lang"),
            TextStats.englishRatio(col("tokens")).as("score"))
          .groupBy(floor(col("score") * 20).cast("long").as("bin"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
          .select(col("bin"), col("n"), col("n_en"),
            (col("n_en") / col("n")).as("en_rate"))
          .orderBy("bin"))
,
    // ---- q194: LSH s-curve tuning diagnostic — does the banded dial
    // (b=4, r=2) deliver its analytic recall 1−(1−J²)⁴ on REAL pairs?
    // Ground truth = the prefix-filtered EXACT Jaccard join (q139's
    // operator — no LSH in the truth path); candidates = banded
    // MinHash over the SAME shingle sets (a mismatched hash domain
    // would make the curve incoherent). Pairs bin by true Jaccard;
    // each bin reports observed recall vs the expected collision
    // probability, the latter accumulated in exact nano-scaled longs
    // (summation-order-free) with the power expanded to fixed-order
    // products — no libm pow. This is the report that justifies a
    // dedup dial before a 100 TB run buys it.
    QueryDef("q194_lsh_s_curve", Some(s"""${toksCte("doc_id < 150")},
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      sz AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0),
      it AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
             FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      truth AS (SELECT id_a, id_b, inter / (sa.n + sb.n - inter) AS jac
                FROM it JOIN sz sa ON sa.doc_id = id_a
                        JOIN sz sb ON sb.doc_id = id_b
                WHERE inter * 10 >= 1 * (sa.n + sb.n - inter)),
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(sh, t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM sh),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM band a JOIN band b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      j AS (SELECT t.jac,
                   CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit,
                   CAST(ROUND((1.0 - (1.0 - t.jac * t.jac) * (1.0 - t.jac * t.jac)
                               * (1.0 - t.jac * t.jac) * (1.0 - t.jac * t.jac))
                              * 1000000000) AS BIGINT) AS p_nanos
            FROM truth t LEFT JOIN cand c
              ON c.id_a = t.id_a AND c.id_b = t.id_b)
      SELECT CAST(FLOOR(jac * 10) AS BIGINT) AS bin,
             COUNT(*) AS n_pairs,
             CAST(SUM(hit) AS BIGINT) AS n_hit,
             CAST(SUM(hit) AS BIGINT) / COUNT(*) AS obs_recall,
             CAST(SUM(p_nanos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               / 1000000000.0 AS exp_recall
      FROM j GROUP BY 1 ORDER BY bin"""),
      (s, dir) => {
        val toks = tokenized(s, dir).where(col("doc_id") < 150)
        val truth = Dedup.prefixJaccardPairs(toks, "doc_id", "tokens",
          num = 1, den = 10)
        val shdocs = toks.select(col("doc_id"),
          Dedup.bigramShingles(col("tokens")).as("sh"))
        val cand = Dedup.lshBandedCandidatePairs(shdocs, "doc_id", "sh",
          nBands = 4, rowsPerBand = 2)
        val t1 = lit(1.0) - col("jac") * col("jac")
        val j = truth.withColumnRenamed("jaccard", "jac")
          .join(cand.withColumn("hit", lit(1L)), Seq("id_a", "id_b"), "left")
          .select(col("jac"),
            coalesce(col("hit"), lit(0L)).as("hit"),
            round((lit(1.0) - t1 * t1 * t1 * t1) * 1e9).cast("long").as("p_nanos"))
        j.groupBy(floor(col("jac") * 10).cast("long").as("bin"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("hit")).as("n_hit"),
            sum(col("p_nanos")).as("pn"))
          .select(col("bin"), col("n_pairs"), col("n_hit"),
            (col("n_hit") / col("n_pairs")).as("obs_recall"),
            (col("pn").cast("double") / col("n_pairs").cast("double")
              / lit(1.0e9)).as("exp_recall"))
          .orderBy("bin")
      }),

    // ---- q207: dedup survivorship lineage — the serving artifact a
    // dedup run must actually emit: q72 labels clusters and q134
    // histograms the yield, but a downstream consumer needs (kept ←
    // dropped) PROVENANCE rows with the reason encoded: per near-dup
    // cluster the canonical survivor is the highest-QUALITY member
    // (n_chars, ties to the smaller doc_id), not the arbitrary min-id
    // label — picked by one mergeable min-struct argmax (never a
    // window in the Spark plan; the oracle's ROW_NUMBER mirrors the
    // same total order), then one equi-join fans the cluster members
    // against their canonical. Same verified LSH→Jaccard→CC chain as
    // q72; on top of the labels the lineage costs two cluster-keyed
    // hash ops — at 100 TB the report is marginal next to the
    // clustering that produced it.
    QueryDef("q207_dedup_lineage", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      ver AS (SELECT id_a, id_b FROM
                (SELECT c.id_a, c.id_b,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand c JOIN sh a ON a.doc_id = c.id_a
                             JOIN sh b ON b.doc_id = c.id_b)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ver
                UNION ALL SELECT id_b, id_a FROM ver),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM toks),
      ${graft.QueryDef.ccFixpointCtes()},
      lab AS (SELECT f.id AS doc_id, f.label AS cluster_id, d.n_chars
              FROM ${graft.QueryDef.ccFinal()} f
              JOIN documents d ON d.doc_id = f.id),
      canon AS (SELECT cluster_id, doc_id AS kept_id, n_chars AS kept_chars FROM
                  (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                             ORDER BY n_chars DESC, doc_id) AS rk,
                          COUNT(*) OVER (PARTITION BY cluster_id) AS sz
                   FROM lab) WHERE rk = 1 AND sz >= 2)
      SELECT l.cluster_id, c.kept_id, c.kept_chars,
             l.doc_id AS dropped_id, l.n_chars AS dropped_chars
      FROM lab l JOIN canon c USING (cluster_id)
      WHERE l.doc_id <> c.kept_id
      ORDER BY cluster_id, dropped_id"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val cand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens", 4, 2,
          maxBucketSize = 50)
        val verified = Dedup.verifyJaccard(toks, "doc_id", "tokens", cand)
          .where(col("jaccard") >= 0.5)
        val labels = Dedup
          .nearDupClustersConverged(toks.select("doc_id"), "doc_id", verified)._1
        val lab = labels.select("doc_id", "cluster_id")
          .join(docs(s, dir).select("doc_id", "n_chars"), "doc_id")
        val canon = lab.groupBy("cluster_id")
          .agg(min(struct((-col("n_chars")).as("negq"), col("doc_id").as("id")))
              .as("w"),
            count(lit(1)).as("sz"))
          .where(col("sz") >= 2)
          .select(col("cluster_id"), col("w.id").as("kept_id"),
            (-col("w.negq")).as("kept_chars"))
        lab.join(canon, "cluster_id")
          .where(col("doc_id") =!= col("kept_id"))
          .select(col("cluster_id"), col("kept_id"), col("kept_chars"),
            col("doc_id").as("dropped_id"), col("n_chars").as("dropped_chars"))
          .orderBy("cluster_id", "dropped_id")
      }),

    // ---- q208: quality-filter OVERLAP matrix — the tuning readout for
    // a filter stack (Gopher/C4-style): per filter its drop count, and
    // per PAIR how many docs BOTH would drop, as overlap Jaccard. Two
    // filters with ~1.0 overlap are redundant (drop one and save its
    // compute); near-0 overlap means each catches a distinct failure
    // mode. Every flag is a row-local INTEGER test (no float
    // boundaries), the whole k×k matrix folds out of ONE conditional-
    // sum aggregate over ONE corpus scan (the q167 Audit shape), and
    // the 10 unordered-pair rows unpivot from the single agg row —
    // marginal cost at 100 TB is one scan regardless of k.
    QueryDef("q208_filter_overlap", Some(s"""${toksCte()},
      fl AS (SELECT t.doc_id,
               CASE WHEN d.n_chars < 150 THEN 1 ELSE 0 END AS f_short,
               CASE WHEN list_sum(list_transform(t.tokens, x -> length(x)))
                         > 5 * len(t.tokens) THEN 1 ELSE 0 END AS f_longword,
               CASE WHEN 2 * len(list_distinct(t.tokens)) < len(t.tokens)
                    THEN 1 ELSE 0 END AS f_dup,
               CASE WHEN COALESCE(list_max(list_transform(list_distinct(t.tokens),
                         g -> len(list_filter(t.tokens, x -> x = g)))), 0) * 5
                         > len(t.tokens) THEN 1 ELSE 0 END AS f_dominant
             FROM toks t JOIN documents d USING (doc_id)),
      ag AS (SELECT CAST(SUM(f_short) AS BIGINT) AS n_s,
                    CAST(SUM(f_longword) AS BIGINT) AS n_l,
                    CAST(SUM(f_dup) AS BIGINT) AS n_d,
                    CAST(SUM(f_dominant) AS BIGINT) AS n_m,
                    CAST(SUM(f_short * f_longword) AS BIGINT) AS n_sl,
                    CAST(SUM(f_short * f_dup) AS BIGINT) AS n_sd,
                    CAST(SUM(f_short * f_dominant) AS BIGINT) AS n_sm,
                    CAST(SUM(f_longword * f_dup) AS BIGINT) AS n_ld,
                    CAST(SUM(f_longword * f_dominant) AS BIGINT) AS n_lm,
                    CAST(SUM(f_dup * f_dominant) AS BIGINT) AS n_dm
             FROM fl),
      up AS (          SELECT 'dominant' AS filter_a, 'dominant' AS filter_b, n_m AS n_a, n_m AS n_b, n_m AS n_both FROM ag
             UNION ALL SELECT 'dominant', 'dup',      n_m, n_d, n_dm FROM ag
             UNION ALL SELECT 'dominant', 'longword', n_m, n_l, n_lm FROM ag
             UNION ALL SELECT 'dominant', 'short',    n_m, n_s, n_sm FROM ag
             UNION ALL SELECT 'dup', 'dup',           n_d, n_d, n_d  FROM ag
             UNION ALL SELECT 'dup', 'longword',      n_d, n_l, n_ld FROM ag
             UNION ALL SELECT 'dup', 'short',         n_d, n_s, n_sd FROM ag
             UNION ALL SELECT 'longword', 'longword', n_l, n_l, n_l  FROM ag
             UNION ALL SELECT 'longword', 'short',    n_l, n_s, n_sl FROM ag
             UNION ALL SELECT 'short', 'short',       n_s, n_s, n_s  FROM ag)
      SELECT filter_a, filter_b, n_a, n_b, n_both,
             CASE WHEN n_a + n_b - n_both = 0 THEN NULL
                  ELSE n_both / (n_a + n_b - n_both) END AS overlap_jaccard
      FROM up ORDER BY filter_a, filter_b"""),
      (s, dir) => {
        val fl = tokenized(s, dir)
          .join(docs(s, dir).select("doc_id", "n_chars"), "doc_id")
          .select(
            when(col("n_chars") < 150, 1).otherwise(0).as("f_s"),
            when(expr("aggregate(transform(tokens, x -> length(x)), 0, (a, x) -> a + x)")
              > lit(5) * size(col("tokens")), 1).otherwise(0).as("f_l"),
            when(lit(2) * size(array_distinct(col("tokens"))) < size(col("tokens")), 1)
              .otherwise(0).as("f_d"),
            when(coalesce(array_max(expr(
                "transform(array_distinct(tokens), g -> size(filter(tokens, x -> x = g)))")),
              lit(0)) * 5 > size(col("tokens")), 1).otherwise(0).as("f_m"))
        val ag = fl.agg(
          sum("f_s").as("n_s"), sum("f_l").as("n_l"),
          sum("f_d").as("n_d"), sum("f_m").as("n_m"),
          sum(col("f_s") * col("f_l")).as("n_sl"),
          sum(col("f_s") * col("f_d")).as("n_sd"),
          sum(col("f_s") * col("f_m")).as("n_sm"),
          sum(col("f_l") * col("f_d")).as("n_ld"),
          sum(col("f_l") * col("f_m")).as("n_lm"),
          sum(col("f_d") * col("f_m")).as("n_dm"))
        ag.selectExpr("""stack(10,
            'dominant', 'dominant', n_m, n_m, n_m,
            'dominant', 'dup',      n_m, n_d, n_dm,
            'dominant', 'longword', n_m, n_l, n_lm,
            'dominant', 'short',    n_m, n_s, n_sm,
            'dup', 'dup',           n_d, n_d, n_d,
            'dup', 'longword',      n_d, n_l, n_ld,
            'dup', 'short',         n_d, n_s, n_sd,
            'longword', 'longword', n_l, n_l, n_l,
            'longword', 'short',    n_l, n_s, n_sl,
            'short', 'short',       n_s, n_s, n_s)
            as (filter_a, filter_b, n_a, n_b, n_both)""")
          .select(col("filter_a"), col("filter_b"),
            col("n_a"), col("n_b"), col("n_both"),
            when(col("n_a") + col("n_b") - col("n_both") === 0,
              lit(null).cast("double"))
              .otherwise(col("n_both") / (col("n_a") + col("n_b") - col("n_both")))
              .as("overlap_jaccard"))
          .orderBy("filter_a", "filter_b")
      }),

    // ---- q209: modularity of the q147 LPA communities — the quality
    // gate that says whether "communities" are real structure or
    // partition noise (Newman's Q: fraction of edges inside
    // communities minus the degree-preserving random expectation).
    // Exactness: Q = Σ_c (4m·e_c − d_c²) / (4m²) — every per-community
    // numerator is PURE LONG ARITHMETIC over edge/degree counts, the
    // global Q is one exact bigint division at the end, so the number
    // that gates a release is bit-identical in any engine. Cost on top
    // of the labels: one edge join + three community-keyed hash aggs —
    // marginal next to the LPA that produced them; the m=0 empty-graph
    // edge degenerates to NULL, never a division error.
    QueryDef("q209_modularity", Some(s"""${toksCte("doc_id < 200")},
      sig AS (SELECT doc_id, array_to_string(list_transform(range(1, 33), i ->
                CASE WHEN COALESCE(list_sum(list_transform(list_distinct(tokens),
                     t -> CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                               THEN 1 ELSE -1 END)), 0) >= 0
                     THEN '1' ELSE '0' END), '') AS sig
              FROM toks),
      bits AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN substr(sig, i, 1) = '1'
                             THEN (1::BIGINT << (32 - i)) ELSE 0 END)) AS BIGINT) AS sb
               FROM sig),
      band AS (SELECT doc_id, sb, t.range AS b,
                      (sb >> ((3 - t.range) * 8)) & 255 AS chunk
               FROM bits, range(0, 4) t),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sb AS sb_a, b.sb AS sb_b
               FROM band a JOIN band b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      p0 AS MATERIALIZED (SELECT id_a, id_b FROM cand
            WHERE bit_count(xor(sb_a, sb_b)) <= 3),
      edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p0
            UNION ALL SELECT id_b AS u, id_a AS v FROM p0),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM toks),
      ${lpaCtes(rounds = 4)},
      mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p0),
      deg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
      dc AS (SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                    CAST(SUM(COALESCE(deg.d, 0)) AS BIGINT) AS d_sum
             FROM l4 l LEFT JOIN deg ON deg.id = l.id GROUP BY l.label),
      ec AS (SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_in
             FROM p0 p JOIN l4 la ON la.id = p.id_a JOIN l4 lb ON lb.id = p.id_b
             WHERE la.label = lb.label GROUP BY la.label),
      qn AS (SELECT d.label, d.n_nodes, d.d_sum,
                    COALESCE(e.e_in, 0) AS e_in,
                    CAST(4 * mm.m * COALESCE(e.e_in, 0) - d.d_sum * d.d_sum
                         AS BIGINT) AS q_numer
             FROM dc d LEFT JOIN ec e ON e.label = d.label CROSS JOIN mm),
      qt AS (SELECT CAST(SUM(q_numer) AS BIGINT) AS qtn FROM qn)
      SELECT CAST(qn.label AS BIGINT) AS community, qn.n_nodes, qn.e_in,
             qn.d_sum, qn.q_numer,
             CASE WHEN mm.m = 0 THEN NULL
                  ELSE qt.qtn / (4 * mm.m * mm.m) END AS q_total
      FROM qn CROSS JOIN qt CROSS JOIN mm
      WHERE qn.n_nodes >= 2
      ORDER BY community"""),
      (s, dir) => {
        val t = tokenized(s, dir).where(col("doc_id") < 200)
          .localCheckpoint() // nodes AND pair building read it
        val pairs = Dedup.simhashNearDups(t, "doc_id", "tokens")
          .select("id_a", "id_b")
          .localCheckpoint() // m, degrees, internal-edge count all read it
        val labels = graft.graph.LabelProp.run(t.select("doc_id"), "doc_id",
            pairs, rounds = 4)
          .localCheckpoint() // degree join + two endpoint joins read it
        val mdf = pairs.agg(count(lit(1)).as("m"))
        val deg = pairs.select(col("id_a").as("id"))
          .union(pairs.select(col("id_b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("d"))
        val dc = labels.join(deg, Seq("id"), "left_outer")
          .groupBy("label").agg(count(lit(1)).as("n_nodes"),
            sum(coalesce(col("d"), lit(0L))).as("d_sum"))
        val ec = pairs
          .join(labels.select(col("id").as("id_a"), col("label").as("la")), "id_a")
          .join(labels.select(col("id").as("id_b"), col("label").as("lb")), "id_b")
          .where(col("la") === col("lb"))
          .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
        val qn = dc.join(ec, Seq("label"), "left_outer")
          .crossJoin(broadcast(mdf))
          .select(col("label"), col("n_nodes"), col("d_sum"),
            coalesce(col("e_in"), lit(0L)).as("e_in"), col("m"),
            (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
              - col("d_sum") * col("d_sum")).as("q_numer"))
          .localCheckpoint() // the global sum AND the row output read it
        val qt = qn.agg(sum("q_numer").as("qtn"))
        qn.where(col("n_nodes") >= 2)
          .crossJoin(broadcast(qt))
          .select(col("label").as("community"), col("n_nodes"), col("e_in"),
            col("d_sum"), col("q_numer"),
            when(col("m") === 0, lit(null).cast("double"))
              .otherwise(col("qtn") / (lit(4L) * col("m") * col("m")))
              .as("q_total"))
          .orderBy("community")
      }),

    // ---- q212: Brier-score decomposition (Murphy 1973) of the q191
    // language-ID calibration — reliability (how far bin forecasts sit
    // from observed rates — LOWER is better), resolution (how much the
    // bins separate from the base rate — HIGHER is better), and
    // uncertainty (the data's own irreducible o(1−o)); a model can
    // have a flattering calibration CURVE while resolution says it
    // never leaves the base rate — the decomposition exposes that.
    // Forecast per bin = the midpoint (2·bin+1)/40 of q191's 5% bins
    // (an exact rational both engines evaluate identically). Each
    // reliability/resolution term is nano-scaled to an exact long at
    // the bin level (order-free sums over the ≤21-row bin table);
    // the three emitted components assemble by a fixed double tree.
    // One corpus scan; everything after is bin-table algebra.
    QueryDef("q212_brier_decomposition", Some("""
      WITH raw AS (SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(lower(text), '\W+'),
                                 t -> t <> '') AS tokens
                   FROM documents),
      s AS (SELECT lang,
              len(list_filter(tokens,
                  t -> t IN ('the','a','of','to','and','in','is','it')))
                / len(tokens) AS score
            FROM raw WHERE len(tokens) > 0),
      b AS (SELECT CAST(FLOOR(score * 20) AS BIGINT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM s GROUP BY 1),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                     CAST(SUM(k) AS BIGINT) AS kk FROM b),
      terms AS (SELECT
          CAST(round(b.n * (CAST(2 * b.bin + 1 AS DOUBLE) / 40.0
                            - CAST(b.k AS DOUBLE) / b.n)
                         * (CAST(2 * b.bin + 1 AS DOUBLE) / 40.0
                            - CAST(b.k AS DOUBLE) / b.n)
                     * 1000000000.0) AS BIGINT) AS rel_nanos,
          CAST(round(b.n * (CAST(b.k AS DOUBLE) / b.n
                            - CAST(t.kk AS DOUBLE) / t.nn)
                         * (CAST(b.k AS DOUBLE) / b.n
                            - CAST(t.kk AS DOUBLE) / t.nn)
                     * 1000000000.0) AS BIGINT) AS res_nanos
        FROM b CROSS JOIN tot t),
      agg AS (SELECT CAST(SUM(rel_nanos) AS BIGINT) AS sr,
                     CAST(SUM(res_nanos) AS BIGINT) AS ss FROM terms)
      SELECT t.nn AS n_total, CAST(t.kk AS DOUBLE) / t.nn AS base_rate,
             CAST(a.sr AS DOUBLE) / 1000000000.0 / t.nn AS reliability,
             CAST(a.ss AS DOUBLE) / 1000000000.0 / t.nn AS resolution,
             (CAST(t.kk AS DOUBLE) / t.nn)
               * (1.0 - CAST(t.kk AS DOUBLE) / t.nn) AS uncertainty,
             CAST(a.sr AS DOUBLE) / 1000000000.0 / t.nn
               - CAST(a.ss AS DOUBLE) / 1000000000.0 / t.nn
               + (CAST(t.kk AS DOUBLE) / t.nn)
                 * (1.0 - CAST(t.kk AS DOUBLE) / t.nn) AS brier
      FROM tot t CROSS JOIN agg a"""),
      (s, dir) => {
        val b = docs(s, dir)
          .select(col("lang"), Tokenize.tokens(col("text")).as("tokens"))
          .where(size(col("tokens")) > 0)
          .select(col("lang"), TextStats.englishRatio(col("tokens")).as("score"))
          .groupBy(floor(col("score") * 20).cast("long").as("bin"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("k"))
          .localCheckpoint() // totals AND per-bin terms read it
        val tot = b.agg(sum("n").as("nn"), sum("k").as("kk"))
        val fDiff = (lit(2) * col("bin") + 1).cast("double") / lit(40.0) -
          col("k").cast("double") / col("n")
        val oDiff = col("k").cast("double") / col("n") -
          col("kk").cast("double") / col("nn")
        val agg = b.crossJoin(broadcast(tot)).select(
            round(col("n") * fDiff * fDiff * lit(1000000000.0)).cast("long")
              .as("rel_nanos"),
            round(col("n") * oDiff * oDiff * lit(1000000000.0)).cast("long")
              .as("res_nanos"))
          .agg(sum("rel_nanos").as("sr"), sum("res_nanos").as("ss"))
        val base = col("kk").cast("double") / col("nn")
        val rel = col("sr").cast("double") / lit(1000000000.0) / col("nn")
        val res = col("ss").cast("double") / lit(1000000000.0) / col("nn")
        tot.crossJoin(broadcast(agg))
          .select(col("nn").as("n_total"), base.as("base_rate"),
            rel.as("reliability"), res.as("resolution"),
            (base * (lit(1.0) - base)).as("uncertainty"),
            (rel - res + base * (lit(1.0) - base)).as("brier"))
      }),

    // ---- q216: vocabulary coverage curve — "how big a vocab do we
    // actually need": for k ∈ {1, 10, 100, 1000, 10000}, the share of
    // all token INSTANCES covered by the k most frequent types (the
    // Zipf readout behind vocab-size / OOV-budget decisions, and the
    // cheap sanity check before paying for a BPE dial). One corpus
    // scan onto the vocabulary counter; the query only ever reads
    // ranks ≤ 10,000, so the engine never sorts the vocabulary
    // globally (at web scale `\W+` yields 10^8–10^9 distinct types):
    // top-10k by (cnt desc, token) is a TakeOrderedAndProject (q115's
    // bigram pattern), the rank inside that bounded table comes from
    // ExactRank (range partition + offsets — no window operator), and
    // covered(k) is a filtered sum over rank ≤ k. Ties broken by
    // token so the curve is deterministic; every coverage number is
    // an exact bigint division. The oracle's ROW_NUMBER/running-sum
    // formulation is equivalent because the top-k set is a prefix of
    // the total (cnt desc, token) order.
    QueryDef("q216_vocab_coverage", Some(s"""${toksCte()},
      inst AS (SELECT unnest(tokens) AS token FROM toks),
      vc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM inst GROUP BY 1),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nn,
                     CAST(COUNT(*) AS BIGINT) AS n_vocab FROM vc),
      r AS (SELECT token, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk FROM vc),
      cum AS (SELECT rk, CAST(SUM(cnt) OVER (ORDER BY rk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ccnt
              FROM r),
      ks AS (SELECT CAST(UNNEST([1, 10, 100, 1000, 10000]) AS BIGINT) AS k)
      SELECT ks.k, t.n_vocab, t.nn AS n_instances,
             CAST(MAX(CASE WHEN cum.rk <= ks.k THEN cum.ccnt ELSE 0 END)
                  AS BIGINT) AS covered,
             CAST(MAX(CASE WHEN cum.rk <= ks.k THEN cum.ccnt ELSE 0 END)
                  AS BIGINT) / t.nn AS coverage
      FROM ks CROSS JOIN cum CROSS JOIN tot t
      GROUP BY ks.k, t.n_vocab, t.nn ORDER BY k"""),
      (s, dir) => {
        val vc = tokenized(s, dir).select(explode(col("tokens")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .localCheckpoint() // totals AND the top-k pass read it
        val tot = vc.agg(sum("cnt").as("nn"), count(lit(1)).as("n_vocab"))
        // bounded: ranks ≤ 10000 are all the query ever reads
        val top = vc.orderBy(col("cnt").desc, col("token")).limit(10000)
        val (ranked, _) = graft.operators.ExactRank.withRowNumber(
          top, Seq(col("cnt").desc, col("token")), "rk")
        val ks = s.range(1)
          .select(explode(expr("array(1L, 10L, 100L, 1000L, 10000L)")).as("k"))
        broadcast(ks).join(ranked, col("rk") <= col("k"))
          .groupBy("k").agg(sum("cnt").as("covered"))
          .crossJoin(broadcast(tot))
          .select(col("k"), col("n_vocab"), col("nn").as("n_instances"),
            col("covered"), (col("covered") / col("nn")).as("coverage"))
          .orderBy("k")
      }),

    // ---- q228: training-MIXTURE planner — the sampling-weight table a
    // multi-source corpus is assembled from (the multilingual-LM
    // temperature trick: w ∝ n_tokens^α with α = 1/2 upweights
    // low-resource languages relative to proportional sampling, which
    // would drown them; α enters as ONE IEEE sqrt — correctly rounded
    // in both engines — then micro-scales to an exact long
    // immediately). The token budget B = 1,000,000 is allocated as
    // EXACT integers by largest-remainder rounding: base = (B·w) div
    // Σw per language, the < k leftover tokens go to the largest
    // (remainder, lang) ranks — Σ alloc ≡ B by construction, gated by
    // budget_ok on every row (no float shares that sum to 0.999999…).
    // epochs = alloc/n_tokens is the repeat-rate readout; over_cap
    // flags a source the plan would repeat past 3 epochs (the point
    // where repetition stops helping and the dial, not the formula,
    // must decide). The remainder-rank window rides the ≤ #languages
    // row mixture table (bounded-domain allowlist). Headroom: B·w
    // stays a long for corpora to ~10^12 tokens per language at the
    // micro scale.
    QueryDef("q228_mixture_plan", Some(s"""${toksCte()},
      lt AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(len(t.tokens)) AS BIGINT) AS n_tokens
             FROM toks t JOIN documents d USING (doc_id) GROUP BY 1),
      w AS (SELECT lang, n_docs, n_tokens,
                   CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000.0)
                     AS BIGINT) AS wm
            FROM lt),
      tw AS (SELECT CAST(SUM(wm) AS BIGINT) AS tot FROM w),
      base AS (SELECT w.lang, w.n_docs, w.n_tokens, w.wm, tw.tot,
                      (1000000 * w.wm) // tw.tot AS base,
                      (1000000 * w.wm) % tw.tot AS rem
               FROM w CROSS JOIN tw),
      lv AS (SELECT CAST(1000000 - SUM(base) AS BIGINT) AS leftover FROM base),
      rk AS (SELECT base.*, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rr
             FROM base),
      al AS (SELECT lang, n_docs, n_tokens, wm, tot,
                    base + CASE WHEN rr <= lv.leftover THEN 1 ELSE 0 END AS alloc
             FROM rk CROSS JOIN lv),
      t2 AS (SELECT CAST(SUM(alloc) AS BIGINT) AS talloc FROM al)
      SELECT lang, n_docs, n_tokens, wm AS weight_micros,
             CAST(wm AS DOUBLE) / tot AS share,
             CAST(alloc AS BIGINT) AS alloc_tokens,
             CAST(alloc AS DOUBLE) / n_tokens AS epochs,
             alloc > 3 * n_tokens AS over_cap,
             t2.talloc = 1000000 AS budget_ok
      FROM al CROSS JOIN t2 ORDER BY lang"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 1000000L
        val lt = tokenized(s, dir)
          .join(docs(s, dir).select("doc_id", "lang"), "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("tokens"))).cast("long").as("n_tokens"))
        val w = lt.withColumn("wm",
          round(sqrt(col("n_tokens").cast("double")) * lit(1000000.0))
            .cast("long"))
        val tw = w.agg(sum("wm").cast("long").as("tot"))
        val base = w.crossJoin(broadcast(tw))
          .withColumn("base", expr(s"($budget * wm) div tot"))
          .withColumn("rem", expr(s"($budget * wm) % tot"))
          .localCheckpoint() // 2 consumers: leftover agg + remainder rank
        val lv = base.agg((lit(budget) - sum("base")).cast("long")
          .as("leftover"))
        val al = base
          .withColumn("rr", row_number().over(
            Window.orderBy(col("rem").desc, col("lang"))))
          .crossJoin(broadcast(lv))
          .withColumn("alloc",
            col("base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L))
          .localCheckpoint() // 2 consumers: budget check + output
        val t2 = al.agg(sum("alloc").cast("long").as("talloc"))
        al.crossJoin(broadcast(t2))
          .select(col("lang"), col("n_docs"), col("n_tokens"),
            col("wm").as("weight_micros"),
            (col("wm").cast("double") / col("tot")).as("share"),
            col("alloc").as("alloc_tokens"),
            (col("alloc").cast("double") / col("n_tokens")).as("epochs"),
            (col("alloc") > col("n_tokens") * 3).as("over_cap"),
            (col("talloc") === budget).as("budget_ok"))
          .orderBy("lang")
      }),

    // ---- q231: curriculum ordering — the deterministic training-order
    // schedule a curriculum-learning pipeline feeds the data loader:
    // every document's EXACT global position under (quality score DESC,
    // length ASC, doc_id) — best documents first, shorter-therefore-
    // easier first within a quality tier — plus its decile and the
    // early/mid/late phase tag. The rank comes from the DISTRIBUTED
    // exact-rank operator (operators.ExactRank, third consumer after
    // q222/q229): a corpus-wide training order is exactly the place a
    // naive ROW_NUMBER() OVER (ORDER BY …) would sort the whole corpus
    // in one task. Deciles are pure integer arithmetic off the offset
    // pass's free total — no COUNT(*) OVER () anywhere.
    QueryDef("q231_curriculum", Some(s"""${toksCte()},
      sc AS (SELECT doc_id, CAST(len(tokens) AS INTEGER) AS n_tokens,
               (CASE WHEN len(tokens) BETWEEN 20 AND 500 THEN 1 ELSE 0 END
                + CASE WHEN len(list_distinct(tokens)) / len(tokens)
                       > CAST(0.3 AS DOUBLE) THEN 1 ELSE 0 END
                + CASE WHEN length(array_to_string(tokens, '')) / len(tokens)
                       BETWEEN CAST(3 AS DOUBLE) AND CAST(9 AS DOUBLE)
                       THEN 1 ELSE 0 END) AS score
             FROM toks),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
      r AS (SELECT doc_id, score, n_tokens,
              ROW_NUMBER() OVER (ORDER BY score DESC, n_tokens, doc_id)
                AS curriculum_rank
            FROM sc)
      SELECT r.doc_id, r.score, r.n_tokens, r.curriculum_rank,
             ((r.curriculum_rank - 1) * 10) // n.n + 1 AS decile,
             CASE WHEN ((r.curriculum_rank - 1) * 10) // n.n + 1 <= 3
                  THEN 'early'
                  WHEN ((r.curriculum_rank - 1) * 10) // n.n + 1 <= 7
                  THEN 'mid' ELSE 'late' END AS phase
      FROM r CROSS JOIN n ORDER BY r.curriculum_rank"""),
      (s, dir) => {
        val sc = tokenized(s, dir).select(col("doc_id"),
          size(col("tokens")).as("n_tokens"),
          TextStats.qualityScore(col("tokens")).as("score"))
        val (ranked, n) = graft.operators.ExactRank.withRowNumber(
          sc, Seq(col("score") * -1, col("n_tokens"), col("doc_id")),
          "curriculum_rank")
        val decile = expr(s"((curriculum_rank - 1) * 10) div $n + 1")
        ranked.select(col("doc_id"), col("score"), col("n_tokens"),
            col("curriculum_rank"), decile.as("decile"),
            when(decile <= 3, "early").when(decile <= 7, "mid")
              .otherwise("late").as("phase"))
          .orderBy("curriculum_rank")
      }),

    // ---- q232: MinHash-LSH dial advisor — the third member of the
    // advisor family (q218 join strategy, q226 ANN ladder): for four
    // (bands, rows-per-band) dials of the SAME banded MinHash blocking
    // the dedup chain runs (q72), measured against the exact all-pairs
    // Jaccard ≥ 0.5 ground truth on the bounded eval slice
    // (doc_id < 1000 — sized so planted dups exist at every SF; the
    // q62 fixed-slice denominator discipline): candidate pairs
    // emitted, true pairs caught, recall, and candidate fraction — the
    // "raise b for recall, raise r for selectivity" claim as four
    // oracle-checked data points a dedup owner picks from. The exact
    // ground-truth side rides the PREFIX-FILTERED Jaccard join (q139's
    // Bayardo discipline — zero recall loss at the threshold, never a
    // cartesian: a ≥ 0.5 pair necessarily shares a shingle); every
    // dial's candidates come from the banded equi-join with the shared
    // bucket cap.
    QueryDef("q232_lsh_dial_advisor", Some({
      def dialCtes(p: String, nBands: Int, rpb: Int): String = {
        val nH = nBands * rpb
        s"""${p}sig AS (SELECT doc_id,
        ${(0 until nH).map(i =>
            s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      ${p}band AS (${(0 until nBands).map { b =>
            val chunk = (0 until rpb).map(r => s"mh${b * rpb + r}")
              .mkString(" || '|' || ")
            s"SELECT doc_id, $b AS b, $chunk AS chunk FROM ${p}sig"
          }.mkString(" UNION ALL\n               ")}),
      ${p}kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM ${p}band)
               WHERE bsz <= 50),
      ${p}cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM ${p}kept a JOIN ${p}kept b
                     ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id)"""
      }
      def dialRow(p: String, nBands: Int, rpb: Int): String =
        s"""SELECT $nBands AS bands, $rpb AS rows_per_band,
               ${nBands * rpb} AS n_hashes,
               (SELECT COUNT(*) FROM ${p}cand) AS n_candidates,
               (SELECT COUNT(*) FROM ap JOIN ${p}cand USING (id_a, id_b))
                 AS n_caught"""
      s"""${toksCte("doc_id < 1000")},
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      she AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      shz AS (SELECT doc_id, len(sh) AS n FROM sh),
      shi AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
              FROM she a JOIN she b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      ap AS MATERIALIZED (SELECT id_a, id_b
            FROM shi JOIN shz sa ON sa.doc_id = id_a
                     JOIN shz sb ON sb.doc_id = id_b
            WHERE inter * 2 >= 1 * (sa.n + sb.n - inter)),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM toks),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM ap),
      ${dialCtes("d1", 4, 2)},
      ${dialCtes("d2", 8, 2)},
      ${dialCtes("d3", 4, 4)},
      ${dialCtes("d4", 8, 4)},
      rows_ AS (${dialRow("d1", 4, 2)}
        UNION ALL ${dialRow("d2", 8, 2)}
        UNION ALL ${dialRow("d3", 4, 4)}
        UNION ALL ${dialRow("d4", 8, 4)})
      SELECT bands, rows_per_band, n_hashes,
             CAST(n_candidates AS BIGINT) AS n_candidates,
             (SELECT n_true FROM nt) AS n_true_pairs,
             CAST(n_caught AS BIGINT) AS n_caught,
             CASE WHEN (SELECT n_true FROM nt) = 0 THEN NULL
                  ELSE CAST(n_caught AS DOUBLE) / (SELECT n_true FROM nt) END
               AS recall,
             CAST(n_candidates AS DOUBLE)
               / (SELECT n_docs * (n_docs - 1) // 2 FROM nn)
               AS cand_fraction
      FROM rows_ ORDER BY bands, rows_per_band"""
    }),
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        val toks = tokenized(s, dir).where(col("doc_id") < 1000)
          .localCheckpoint() // exact side + 4 dial blockings read it
        val truePairs = Dedup.prefixJaccardPairs(toks, "doc_id", "tokens",
            num = 1, den = 2)
          .select("id_a", "id_b")
          .localCheckpoint() // count + 4 dial intersections
        val nTrue = truePairs.agg(count(lit(1)).as("n_true_pairs"))
        val nPoss = toks.agg(
          expr("count(1) * (count(1) - 1) div 2").as("n_possible"))
        def dialRow(nBands: Int, rpb: Int): DataFrame = {
          val cand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens",
              nBands, rpb, maxBucketSize = 50)
            .localCheckpoint() // 2 consumers: count + caught
          cand.agg(count(lit(1)).as("n_candidates"))
            .crossJoin(truePairs.join(cand, Seq("id_a", "id_b"))
              .agg(count(lit(1)).as("n_caught")))
            .select(lit(nBands).as("bands"), lit(rpb).as("rows_per_band"),
              lit(nBands * rpb).as("n_hashes"),
              col("n_candidates"), col("n_caught"))
        }
        // the four dials are independent arms whose only eager step is
        // each candidate set's localCheckpoint — submit them from a
        // small pool (guide §2.6) so one dial's stage tail back-fills
        // with the next dial's tasks; per-dial results are unchanged
        graft.operators.Par.run(
          Seq((4, 2), (8, 2), (4, 4), (8, 4))
            .map { case (b, r) => () => dialRow(b, r) })
          .reduce(_ unionByName _)
          .crossJoin(broadcast(nTrue)).crossJoin(broadcast(nPoss))
          .select(col("bands"), col("rows_per_band"), col("n_hashes"),
            col("n_candidates"), col("n_true_pairs"), col("n_caught"),
            when(col("n_true_pairs") === 0, lit(null).cast("double"))
              .otherwise(col("n_caught").cast("double") / col("n_true_pairs"))
              .as("recall"),
            (col("n_candidates").cast("double") / col("n_possible"))
              .as("cand_fraction"))
          .orderBy("bands", "rows_per_band")
      }),

    // ---- q248: TextRank keyword extraction (Mihalcea & Tarau, EMNLP
    // 2004) — GRAPH-centrality keywords, the structural complement to
    // q96's frequency-weighted ones: a token matters because important
    // tokens co-occur with it, not because it is frequent. Nodes are
    // the stopword-cleaned vocabulary; edges are adjacent-token
    // co-occurrences (window 2, symmetrized, self-loops dropped)
    // weighted by corpus-wide adjacency count; 3 iterations of
    // WEIGHTED PageRank (contribution rank·w/W(u) — the q124 engine
    // with the TextRank weight term), top 20 by rounded rank with a
    // token tiebreak. Scale shape: edge building is one flatMap + one
    // hash agg (edges ≤ token stream length however large the corpus);
    // each iteration is the PageRank equi-join + mergeable agg; no
    // windows anywhere.
    QueryDef("q248_textrank", Some(s"""${toksCte()},
      adjp AS (SELECT unnest(list_transform(range(1, len(tokens)),
                     i -> tokens[i] || '|' || tokens[i+1])) AS pr
               FROM toks WHERE len(tokens) >= 2),
      dir_ AS (SELECT split_part(pr, '|', 1) AS src,
                      split_part(pr, '|', 2) AS dst
               FROM adjp
               WHERE split_part(pr, '|', 1) <> split_part(pr, '|', 2)),
      sym AS (SELECT src, dst FROM dir_ UNION ALL SELECT dst, src FROM dir_),
      edges AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
               FROM sym GROUP BY src, dst),
      nodes AS MATERIALIZED (SELECT DISTINCT unnest(tokens) AS id FROM toks),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      ws AS MATERIALIZED (SELECT src AS id, CAST(SUM(w) AS DOUBLE) AS wsum
               FROM edges GROUP BY src),
      pr0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
      ${(1 to 3).map(i => s"""pr$i AS MATERIALIZED (
        SELECT nd.id,
               (1 - 0.85) / (SELECT n FROM nn)
               + 0.85 * COALESCE(SUM(p.rank * e.w / d.wsum), 0) AS rank
        FROM nodes nd
        LEFT JOIN edges e ON e.dst = nd.id
        LEFT JOIN pr${i - 1} p ON p.id = e.src
        LEFT JOIN ws d ON d.id = e.src
        GROUP BY nd.id)""").mkString(",\n      ")}
      SELECT id AS token, ROUND(rank, 6) AS rank
      FROM pr3 ORDER BY ROUND(rank, 6) DESC, token LIMIT 20"""),
      (s, dir) => {
        val toks = tokenized(s, dir)
        val adj = toks.where(size(col("tokens")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(tokens) - 1), " +
              "i -> struct(element_at(tokens, i) AS src, " +
              "element_at(tokens, i + 1) AS dst))")).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .where(col("src") =!= col("dst"))
        val edges = adj
          .union(adj.select(col("dst").as("src"), col("src").as("dst")))
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        val nodes = toks.select(explode(col("tokens")).as("id")).distinct()
        graft.graph.PageRank.runWeighted(nodes, edges, iters = 3)
          .select(col("id").as("token"), round(col("rank"), 6).as("rank"))
          .orderBy(col("rank").desc, col("token")).limit(20)
      }),

    // ---- q249: inter-rater agreement (Cohen's kappa) — the labeling-
    // QC statistic a pipeline computes before trusting annotations:
    // raw agreement po is meaningless when one class dominates, so
    // kappa discounts the agreement pe expected from the raters'
    // marginals alone. Raters here are the q31 language heuristic vs
    // the labeled lang coarsened to the heuristic's {en, und} domain
    // (classifier-vs-gold agreement — kappa's standard QC use). All
    // inputs stay exact integers until three single IEEE divisions
    // (po, pe, kappa) — identical trees in both engines, no rounding
    // needed; the marginal cross-products widen to decimal/HUGEINT
    // before multiplying (long·long wraps past ~3e9 counts per side).
    // Emitted per confusion cell with the gate columns repeated (the
    // q213 PSI shape). One corpus scan → one bounded 2×2 counter table.
    QueryDef("q249_rater_agreement", Some("""
      WITH raw AS (SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'und' END AS a,
                     list_filter(regexp_split_to_array(lower(text), '\W+'),
                                 t -> t <> '') AS tokens
                   FROM documents),
      p AS (SELECT a,
              CASE WHEN len(list_filter(tokens,
                       t -> t IN ('the','a','of','to','and','in','is','it')))
                     / len(tokens) >= CAST(0.05 AS DOUBLE)
                   THEN 'en' ELSE 'und' END AS b
            FROM raw),
      cm AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY a, b),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                     CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT)
                       AS diag
              FROM cm),
      ra AS (SELECT a AS k, CAST(SUM(n) AS BIGINT) AS rn FROM cm GROUP BY a),
      ca AS (SELECT b AS k, CAST(SUM(n) AS BIGINT) AS cn FROM cm GROUP BY b),
      pe_ AS (SELECT CAST(SUM(CAST(rn AS HUGEINT) * cn) AS DOUBLE) AS pnum
              FROM ra JOIN ca ON ca.k = ra.k),
      km AS (SELECT CAST(diag AS DOUBLE) / nn AS po,
                    pnum / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS pe
             FROM tot, pe_)
      SELECT cm.a, cm.b, cm.n, km.po, km.pe,
             CASE WHEN km.pe < 1e0
                  THEN (km.po - km.pe) / (1e0 - km.pe) END AS kappa
      FROM cm, km ORDER BY cm.a, cm.b"""),
      (s, dir) => {
        val p = docs(s, dir).select(
          when(col("lang") === "en", "en").otherwise("und").as("a"),
          TextStats.langId(Tokenize.tokens(col("text"))).as("b"))
        val cm = p.groupBy("a", "b").agg(count(lit(1)).as("n"))
          .localCheckpoint() // totals, both marginals, and the output read it
        val tot = cm.agg(sum("n").cast("long").as("nn"),
          sum(when(col("a") === col("b"), col("n")).otherwise(0L))
            .cast("long").as("diag"))
        val ra = cm.groupBy(col("a").as("k"))
          .agg(sum("n").cast("decimal(19,0)").as("rn"))
        val ca = cm.groupBy(col("b").as("k"))
          .agg(sum("n").cast("decimal(19,0)").as("cn"))
        val pe = ra.join(ca, "k")
          .agg(sum(col("rn") * col("cn")).cast("double").as("pnum"))
        val km = tot.crossJoin(pe)
          .select((col("diag").cast("double") / col("nn")).as("po"),
            (col("pnum") / (col("nn").cast("double") * col("nn").cast("double")))
              .as("pe"))
        cm.crossJoin(broadcast(km))
          .select(col("a"), col("b"), col("n"), col("po"), col("pe"),
            when(col("pe") < 1.0,
              (col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
          .orderBy("a", "b")
      }),

    // ---- q261: DSIR-shaped importance weights for data selection
    // (Xie et al. 2023, "Data Selection for Language Models via
    // Importance Resampling"): score every document by its per-token
    // log-likelihood ratio under two add-one-smoothed unigram LMs —
    // target = the 'en' slice, raw = the whole pool — and surface the
    // top-15 most target-like docs. The ln argument is assembled as
    // ONE ratio of double products of exact integers ((ct+1)(NR+V)) /
    // ((cr+1)(NT+V)) — a single ln per vocab TYPE, so the engines
    // cannot drift across per-token re-evaluation; each type's weight
    // is then nano-scaled to a long and every per-doc score is an
    // exact order-free integer sum (the q166 discipline). Scale shape:
    // token counts are two hash aggs, the weight table is vocab-sized
    // and joins on the token key (never broadcast — vocab outgrows
    // driver memory at corpus scale), per-doc scores are one more hash
    // agg, and the final cut is TakeOrdered. Products stay in double
    // (factors exact below 2^53), so no long overflow at any corpus
    // size; per-doc sums are bounded by doc length × |ln ratio|·1e9,
    // not by corpus size.
    QueryDef("q261_dsir_importance", Some(s"""${toksCte()},
      tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
      raw AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cr FROM tok GROUP BY token),
      tgt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS ct
              FROM (SELECT unnest(t.tokens) AS token
                    FROM toks t JOIN documents d USING (doc_id)
                    WHERE d.lang = 'en')
              GROUP BY token),
      st AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM raw) AS v,
                    (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS nr,
                    (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tgt) AS nt),
      llr AS (SELECT r.token,
                     CAST(ROUND(ln((CAST(COALESCE(g.ct, 0) + 1 AS DOUBLE)
                                    * CAST(st.nr + st.v AS DOUBLE))
                                 / (CAST(r.cr + 1 AS DOUBLE)
                                    * CAST(st.nt + st.v AS DOUBLE))) * 1e9)
                       AS BIGINT) AS w_nanos
              FROM raw r LEFT JOIN tgt g USING (token), st),
      pd AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY 1, 2),
      sc AS (SELECT p.doc_id, CAST(SUM(p.c * l.w_nanos) AS BIGINT) AS score_nanos
             FROM pd p JOIN llr l USING (token) GROUP BY p.doc_id),
      nl AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens
             FROM toks WHERE len(tokens) >= 1)
      SELECT s.doc_id, d.lang, n.n_tokens, s.score_nanos,
             ROUND(CAST(s.score_nanos AS DOUBLE) / 1e9 / n.n_tokens, 6) AS avg_llr
      FROM sc s JOIN nl n USING (doc_id) JOIN documents d USING (doc_id)
      ORDER BY avg_llr DESC, s.doc_id LIMIT 15"""),
      (s, dir) => {
        // one tokenize pass feeds the raw counts, target counts, doc
        // lengths, and the lang join
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
            Tokenize.tokens(col("text"), Stop).as("tokens"))
          .localCheckpoint()
        val tok = d.select(col("doc_id"), explode(col("tokens")).as("token"))
        val raw = tok.groupBy("token").agg(count(lit(1)).cast("long").as("cr"))
        val tgt = d.where(col("lang") === "en")
          .select(explode(col("tokens")).as("token"))
          .groupBy("token").agg(count(lit(1)).cast("long").as("ct"))
        val st = raw.agg(count(lit(1)).cast("long").as("v"),
            sum("cr").cast("long").as("nr"))
          .crossJoin(tgt.agg(coalesce(sum("ct"), lit(0L)).cast("long").as("nt")))
        val llr = raw.join(tgt, Seq("token"), "left")
          .crossJoin(broadcast(st))
          .select(col("token"),
            round(log(((coalesce(col("ct"), lit(0L)) + 1).cast("double")
                  * (col("nr") + col("v")).cast("double"))
                / ((col("cr") + 1).cast("double")
                  * (col("nt") + col("v")).cast("double"))) * lit(1e9))
              .cast("long").as("w_nanos"))
        val pd = tok.groupBy("doc_id", "token")
          .agg(count(lit(1)).cast("long").as("c"))
        val sc = pd.join(llr, "token")
          .groupBy("doc_id")
          .agg(sum(col("c") * col("w_nanos")).cast("long").as("score_nanos"))
        val nl = d.where(size(col("tokens")) >= 1)
          .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"))
        sc.join(nl, "doc_id")
          .join(d.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("score_nanos"),
            round(col("score_nanos").cast("double") / lit(1e9) / col("n_tokens"), 6)
              .as("avg_llr"))
          .orderBy(col("avg_llr").desc, col("doc_id")).limit(15)
      }),

    // ---- q264: isotonic calibration of the q191 reliability curve —
    // the step after DIAGNOSING miscalibration is FIXING it, and
    // isotonic regression is the standard nonparametric calibrator
    // (Zadrozny & Elkan, KDD'02). Instead of iterative PAVA (a
    // sequential pooling loop no engine mirrors bit-for-bit), the fit
    // uses the exact minimax identity fit(k) = max_{i≤k} min_{j≥k}
    // mean(i..j) — closed-form, order-free, provably equal to PAVA's
    // output. Every interval mean is ONE IEEE division of exact
    // integer sums (Σn_en/Σn), and min/max over identical doubles
    // cannot drift. Scale shape: the corpus collapses into the ≤21-row
    // score-bin counter table in one scan; intervals, the minimax
    // joins, and the monotonicity gate are all counter-table-sized
    // broadcasts (≤21³ tuples) — no windows anywhere, so nothing for
    // the catalog sweep to allowlist. The mono gate compares the SAME
    // double chains both engines built, coalesced TRUE for the 1-bin
    // degenerate corpus.
    QueryDef("q264_isotonic", Some("""
      WITH raw AS (SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(lower(text), '\W+'),
                                 t -> t <> '') AS tokens
                   FROM documents),
      s AS (SELECT lang,
              len(list_filter(tokens,
                  t -> t IN ('the','a','of','to','and','in','is','it')))
                / len(tokens) AS score
            FROM raw WHERE len(tokens) > 0),
      bins AS (SELECT CAST(FLOOR(score * 20) AS BIGINT) AS bin,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_en
               FROM s GROUP BY 1),
      iv AS (SELECT i.bin AS i, j.bin AS j,
                    CAST(SUM(b.n_en) AS DOUBLE) / CAST(SUM(b.n) AS DOUBLE) AS m
             FROM bins i JOIN bins j ON i.bin <= j.bin
                  JOIN bins b ON b.bin BETWEEN i.bin AND j.bin
             GROUP BY 1, 2),
      t1 AS (SELECT k.bin AS k, v.i, MIN(v.m) AS lo
             FROM bins k JOIN iv v ON v.i <= k.bin AND v.j >= k.bin
             GROUP BY 1, 2),
      fit AS (SELECT k, MAX(lo) AS iso FROM t1 GROUP BY k),
      mono AS (SELECT COALESCE(MIN(CASE WHEN b.iso >= a.iso THEN 1 ELSE 0 END),
                               1) = 1 AS mono_ok
               FROM fit a JOIN fit b ON a.k < b.k)
      SELECT b.bin, b.n, b.n_en,
             ROUND(CAST(b.n_en AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS rate,
             ROUND(f.iso, 6) AS iso, mono.mono_ok
      FROM bins b JOIN fit f ON f.k = b.bin CROSS JOIN mono
      ORDER BY b.bin"""),
      (s, dir) => {
        // q191's reliability bins: one corpus scan → ≤21-key hash agg
        val bins = docs(s, dir)
          .select(col("lang"), Tokenize.tokens(col("text")).as("tokens"))
          .where(size(col("tokens")) > 0)
          .select(col("lang"),
            TextStats.englishRatio(col("tokens")).as("score"))
          .groupBy(floor(col("score") * 20).cast("long").as("bin"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(when(col("lang") === "en", 1L).otherwise(0L))
              .cast("long").as("n_en"))
          .localCheckpoint() // intervals, the k-domain, and the output read it
        val iv = bins.select(col("bin").as("i"))
          .join(broadcast(bins.select(col("bin").as("j"))), col("i") <= col("j"))
          .join(broadcast(bins), col("bin").between(col("i"), col("j")))
          .groupBy("i", "j")
          .agg((sum("n_en").cast("double") / sum("n").cast("double")).as("m"))
        val fit = bins.select(col("bin").as("k"))
          .join(broadcast(iv), col("i") <= col("k") && col("j") >= col("k"))
          .groupBy("k", "i").agg(min("m").as("lo"))
          .groupBy("k").agg(max("lo").as("iso"))
          .localCheckpoint() // the mono gate self-joins it; the output joins it
        val mono = fit.as("a")
          .join(broadcast(fit.as("b")), col("a.k") < col("b.k"))
          .agg((coalesce(min(when(col("b.iso") >= col("a.iso"), 1L)
            .otherwise(0L)), lit(1L)) === 1L).as("mono_ok"))
        bins.join(broadcast(fit), col("k") === col("bin"))
          .crossJoin(broadcast(mono))
          .select(col("bin"), col("n"), col("n_en"),
            round(col("n_en").cast("double") / col("n").cast("double"), 6)
              .as("rate"),
            round(col("iso"), 6).as("iso"), col("mono_ok"))
          .orderBy("bin")
      }),

    // ---- q265: Krippendorff's alpha — the agreement statistic that
    // generalizes past q249's kappa (symmetric coincidence counting,
    // and the form that extends to missing data / many raters, so it
    // is what a labeling pipeline standardizes on). Same two "raters"
    // as q249 (gold lang coarsened to {en, und} vs the q31 heuristic);
    // each unit contributes BOTH ordered pairs to the coincidence
    // matrix, alpha = 1 − (n−1)·Σ_{c≠k} o_ck / Σ_{c≠k} n_c·n_k with
    // every term an exact integer (marginal cross-products widened to
    // decimal/HUGEINT) until the single final division. One corpus
    // scan → a bounded 2×2 coincidence table; everything downstream is
    // counter-table-sized. Emitted per coincidence cell with alpha
    // repeated (the q249 shape), NULL when the expected-disagreement
    // denominator is 0 (all mass in one class).
    QueryDef("q265_krippendorff", Some("""
      WITH raw AS (SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'und' END AS a,
                     list_filter(regexp_split_to_array(lower(text), '\W+'),
                                 t -> t <> '') AS tokens
                   FROM documents),
      p AS (SELECT a,
              CASE WHEN len(list_filter(tokens,
                       t -> t IN ('the','a','of','to','and','in','is','it')))
                     / len(tokens) >= CAST(0.05 AS DOUBLE)
                   THEN 'en' ELSE 'und' END AS b
            FROM raw),
      o AS (SELECT c, k, CAST(SUM(n) AS BIGINT) AS o FROM
              (SELECT a AS c, b AS k, COUNT(*) AS n FROM p GROUP BY 1, 2
               UNION ALL
               SELECT b AS c, a AS k, COUNT(*) AS n FROM p GROUP BY 1, 2)
            GROUP BY 1, 2),
      marg AS (SELECT c, CAST(SUM(o) AS BIGINT) AS nc FROM o GROUP BY c),
      tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS n FROM marg),
      dis AS (SELECT CAST(COALESCE(SUM(CASE WHEN c <> k THEN o END), 0)
                          AS BIGINT) AS d_o
              FROM o),
      de AS (SELECT CAST(SUM(CAST(a.nc AS HUGEINT) * b.nc) AS HUGEINT) AS d_e
             FROM marg a JOIN marg b ON a.c <> b.c),
      al AS (SELECT CASE WHEN de.d_e > 0
                    THEN 1e0 - CAST((tot.n - 1) * CAST(dis.d_o AS HUGEINT)
                                    AS DOUBLE)
                               / CAST(de.d_e AS DOUBLE) END AS alpha
             FROM tot, dis, de)
      SELECT o.c, o.k, o.o, al.alpha
      FROM o, al ORDER BY o.c, o.k"""),
      (s, dir) => {
        val p = docs(s, dir).select(
          when(col("lang") === "en", "en").otherwise("und").as("a"),
          TextStats.langId(Tokenize.tokens(col("text"))).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n"))
          .localCheckpoint() // both coincidence directions read it
        val o = p.select(col("a").as("c"), col("b").as("k"), col("n"))
          .unionByName(p.select(col("b").as("c"), col("a").as("k"), col("n")))
          .groupBy("c", "k").agg(sum("n").cast("long").as("o"))
          .localCheckpoint() // marginals, disagreement, and the output read it
        val marg = o.groupBy("c").agg(sum("o").cast("long").as("nc"))
        val tot = marg.agg(sum("nc").cast("long").as("n"))
        val dis = o.agg(coalesce(
          sum(when(col("c") =!= col("k"), col("o"))), lit(0L))
          .cast("long").as("d_o"))
        val de = marg.as("x")
          .join(broadcast(marg.as("y")), col("x.c") =!= col("y.c"))
          .agg(sum(col("x.nc").cast("decimal(38,0)") * col("y.nc"))
            .cast("decimal(38,0)").as("d_e"))
        val al = tot.crossJoin(dis).crossJoin(de)
          .select(when(col("d_e") > 0,
            lit(1.0) - ((col("n") - 1).cast("decimal(38,0)") * col("d_o"))
              .cast("double") / col("d_e").cast("double")).as("alpha"))
        o.crossJoin(broadcast(al))
          .select(col("c"), col("k"), col("o"), col("alpha"))
          .orderBy("c", "k")
      }),

    // ---- q268: EXACT-substring dedup spans (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better", ACL 2022 — the
    // ExactSubstr method): any length-L token window whose content
    // appears MORE THAN ONCE in the corpus (within- or cross-document)
    // is an excisable duplicate, and overlapping/adjacent duplicated
    // windows merge into maximal spans — the span table a dedup pass
    // excises, where the MinHash family (q27/q72) would only flag whole
    // near-dup DOCUMENTS and miss a boilerplate paragraph pasted into
    // a thousand otherwise-distinct pages. L = 6 here (the paper uses
    // 50 on web-scale corpora; the testdata docs are ~50 tokens).
    // Windows key on md5 of the space-joined token slice — the
    // portable-hash discipline, standing in for the paper's suffix
    // array, whose candidate set this reproduces exactly at fixed L.
    // Scale shape: one pass explodes each doc into its n−L+1 window
    // hashes (corpus-token-sized, like the inverted index); repeated
    // hashes surface via one hash agg + an equi-join back (the shuffle
    // is ON the window key — the only corpus-sized exchange); span
    // merge is the gaps-and-islands pattern over windows PARTITIONED
    // BY doc_id (per-doc window, never global). Output: one row per
    // maximal span with its token extent [span_start, span_end).
    QueryDef("q268_exact_substring_spans", Some(s"""${toksCte()},
      w AS (SELECT doc_id, i,
                   md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
            FROM toks, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      dc AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
      dw AS (SELECT w.doc_id, w.i FROM w JOIN dc USING (h)),
      mk AS (SELECT doc_id, i,
                    MAX(i + 6) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
             FROM dw),
      il AS (SELECT doc_id, i,
                    SUM(CASE WHEN pme IS NULL OR i > pme THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS island
             FROM mk)
      SELECT doc_id, CAST(island AS BIGINT) AS span_idx,
             CAST(MIN(i) AS BIGINT) AS span_start,
             CAST(MAX(i) + 6 AS BIGINT) AS span_end,
             CAST(MAX(i) + 6 - MIN(i) AS BIGINT) AS span_len,
             CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM il GROUP BY doc_id, island
      ORDER BY doc_id, span_start"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val L = 6
        val w = tokenized(s, dir).where(size(col("tokens")) >= L)
          .select(col("doc_id"), posexplode(expr(
            s"transform(sequence(1, size(tokens) - $L + 1), " +
              s"i -> md5(concat_ws(' ', slice(tokens, i, $L))))"))
            .as(Seq("p", "h")))
          .select(col("doc_id"), (col("p") + 1).cast("long").as("i"), col("h"))
          .localCheckpoint() // the dup-hash agg AND the join-back read it
        val dc = w.groupBy("h").agg(count(lit(1)).as("c")).where(col("c") >= 2)
          .select("h")
        val dw = w.join(dc, "h").select("doc_id", "i")
        val wPrev = Window.partitionBy("doc_id").orderBy("i")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.partitionBy("doc_id").orderBy("i")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val il = dw
          .withColumn("pme", max(col("i") + L).over(wPrev))
          .withColumn("island",
            sum(when(col("pme").isNull || col("i") > col("pme"), 1L)
              .otherwise(0L)).over(wCum))
        il.groupBy("doc_id", "island")
          .agg(min("i").as("span_start"),
            (max("i") + L).as("span_end"),
            count(lit(1)).as("n_windows"))
          .select(col("doc_id"), col("island").as("span_idx"),
            col("span_start"), col("span_end"),
            (col("span_end") - col("span_start")).as("span_len"),
            col("n_windows"))
          .orderBy("doc_id", "span_start")
      }),

    // ---- q274: exact-substring dedup MAINTAINED across corpus
    // refreshes — q268 run the way the ACL'22 pipeline runs in
    // production (graft.dedup.ExactSubstr): the window-hash multiset
    // is durable VersionedState built on the HISTORY docs (doc_id % 5
    // ≠ 4), the 20% delta refreshes it by hashing ONLY its own docs
    // (replay-idempotent via the delta id in the commit marker;
    // history is never re-tokenized), and the span table for the
    // whole corpus is computed against the MAINTAINED duplicated-hash
    // set — which must equal a one-shot q268-style recompute on the
    // union exactly (the oracle IS that one-shot recompute: a hash
    // mismatch here is state drift). L is a DIAL recovered from the
    // stored base marker, exercised at L = 8 vs q268's L = 6 (the
    // paper's L ≈ 50 is the web-corpus setting; the testdata docs are
    // ~50 tokens). Scale shape: the per-batch state delta is one hash
    // agg over the batch; the dup-set read is segment-count-bounded
    // (ExactSubstr.compact folds it back to one table); the span pass
    // shuffles once on the window hash and merges islands per-doc —
    // q268's plan with the dup side read from disk state.
    // ExactSubstrSpec pins restart/replay/retract/compact semantics
    // the oracle can't see.
    QueryDef("q274_exact_substring_maintain", Some(s"""${toksCte()},
      w AS (SELECT doc_id, i,
                   md5(list_aggregate(tokens[i:i+7], 'string_agg', ' ')) AS h
            FROM toks, LATERAL unnest(range(1, len(tokens) - 6)) r(i)),
      dc AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
      dw AS (SELECT w.doc_id, w.i FROM w JOIN dc USING (h)),
      mk AS (SELECT doc_id, i,
                    MAX(i + 8) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
             FROM dw),
      il AS (SELECT doc_id, i,
                    SUM(CASE WHEN pme IS NULL OR i > pme THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS island
             FROM mk)
      SELECT doc_id, CAST(island AS BIGINT) AS span_idx,
             CAST(MIN(i) AS BIGINT) AS span_start,
             CAST(MAX(i) + 8 AS BIGINT) AS span_end,
             CAST(MAX(i) + 8 - MIN(i) AS BIGINT) AS span_len,
             CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM il GROUP BY doc_id, island
      ORDER BY doc_id, span_start"""),
      (s, dir) => {
        import graft.dedup.ExactSubstr
        val toks = tokenized(s, dir).localCheckpoint() // hist split, delta split, span pass
        val hist = toks.where(col("doc_id") % 5 =!= 4)
        val delta = toks.where(col("doc_id") % 5 === 4)
        // fresh state dir per execution (the q266 discipline: bench reps
        // and repeated verify runs each exercise the full cycle)
        val stDir = ScratchDirs.fresh(dir, "q274").head
        ExactSubstr.build(hist, "doc_id", "tokens", L = 8, stDir)
        // incremental refresh: ONLY the delta hashed, replay-guarded
        ExactSubstr.refresh(delta, "doc_id", "tokens", stDir, deltaId = "d1")
        ExactSubstr.refresh(delta, "doc_id", "tokens", stDir, deltaId = "d1") // replayed: no-op
        val l = ExactSubstr.storedL(s, stDir) // the dial comes off disk
        ExactSubstr.spans(toks, "doc_id", "tokens", l,
            ExactSubstr.dupHashes(s, stDir))
          .select(col("doc").as("doc_id"), col("span_idx"),
            col("span_start"), col("span_end"), col("span_len"),
            col("n_windows"))
          .orderBy("doc_id", "span_start")
      }),

    // ---- q276: MAINTAINED near-dup cluster labels — the state
    // between q72 (batch CC over the verified near-dup graph) and q89
    // (batch-vs-corpus screening): the `doc → cluster min-id` table
    // is the corpus-sized artifact an evolving corpus maintains, but
    // cluster labels change NON-LOCALLY on ingest (one bridge doc
    // merges two old clusters and relabels every member of the
    // larger), so a naive maintenance rewrites the corpus per batch.
    // graft.dedup.ClusterState stores the non-local change as a
    // DELTA-SIZED REMAP instead: a refresh contracts existing
    // clusters to their labels, runs converged CC on the REDUCED
    // graph (touched old labels + new docs only), and commits (adds,
    // remap) — the live table is base ∪ adds pushed through the
    // remap chain (each remap cluster-bounded and broadcast), folded
    // back to one base by compact. Contraction is exact: old labels
    // ARE component minima, so the reduced component's min equals
    // the full graph's min — the query gates maintained ≡
    // from-scratch converged CC over the union, hash-exact against
    // the DuckDB hash-min + pointer-jump fixpoint. Engine-side cycle:
    // build on history (doc_id % 5 ≠ 4) over history-only verified
    // edges (q72's band → cap → Jaccard chain), refresh with the
    // delta docs + every verified edge touching the delta (delivered
    // TWICE under one delta id — the replay guard in the gated path),
    // labels read through the remap chain. ClusterStateSpec pins the
    // bridge-merge/chain/restart/compact semantics the oracle can't
    // see.
    QueryDef("q276_cluster_maintain", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b
                 ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      ver AS (SELECT id_a, id_b FROM
                (SELECT c.id_a, c.id_b,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand c JOIN sh a ON a.doc_id = c.id_a
                             JOIN sh b ON b.doc_id = c.id_b)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ver
                UNION ALL SELECT id_b, id_a FROM ver),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM toks),
      ${graft.QueryDef.ccFixpointCtes()}
      SELECT id AS doc_id, label AS cluster_id, id = label AS keep,
             id % 5 = 4 AS arrived_in_delta
      FROM ${graft.QueryDef.ccFinal()} ORDER BY doc_id"""),
      (s, dir) => {
        import graft.dedup.ClusterState
        val toks = tokenized(s, dir)
          .localCheckpoint() // candidate, verify, and both id splits read it
        val cand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens",
          4, 2, maxBucketSize = 50)
        val ver = Dedup.verifyJaccard(toks, "doc_id", "tokens", cand)
          .where(col("jaccard") >= 0.5).select("id_a", "id_b")
          .localCheckpoint() // history and delta splits read it
        val histPairs = ver
          .where(col("id_a") % 5 =!= 4 && col("id_b") % 5 =!= 4)
        val deltaPairs = ver
          .where(col("id_a") % 5 === 4 || col("id_b") % 5 === 4)
        val stDir = ScratchDirs.fresh(dir, "q276").head
        ClusterState.build(
          toks.where(col("doc_id") % 5 =!= 4).select("doc_id"),
          "doc_id", histPairs, stDir)
        ClusterState.refresh(
          toks.where(col("doc_id") % 5 === 4).select("doc_id"),
          "doc_id", deltaPairs, stDir, deltaId = "d1")
        // crash-replay of the batch: must be a no-op
        ClusterState.refresh(
          toks.where(col("doc_id") % 5 === 4).select("doc_id"),
          "doc_id", deltaPairs, stDir, deltaId = "d1")
        ClusterState.labels(s, stDir).get
          .select(col("id").as("doc_id"), col("label").as("cluster_id"),
            (col("id") === col("label")).as("keep"),
            (col("id") % 5 === 4).as("arrived_in_delta"))
          .orderBy("doc_id")
      }),

    // ---- q278: CROSS-ARTIFACT CONSISTENT CUT — the one-marker
    // argument lifted one level. The dedup pipeline maintains TWO
    // durable artifacts over the same corpus (ExactSubstr's window-
    // hash multiset and ClusterState's duplicate-group labels, here
    // over exact bag-of-words fingerprint groups) with no
    // transactional tie: a crash between their refreshes would leave
    // one artifact a batch ahead of its sibling, and nothing records
    // which versions belong together. graft.operators.StateManifest
    // closes it: a cut (artifact → version) commits AFTER the member
    // commits, readers resolve the LAST manifest and read each member
    // AT its pinned version (asOf), so the torn state is INVISIBLE.
    // Engine-side cycle: build both on history + manifest cut 1;
    // refresh ONLY the hash multiset with the delta, then "crash" —
    // the cut-1 pinned reads must still see pre-refresh state on BOTH
    // artifacts (the oracle re-derives history-only truth) while the
    // multiset's HEAD is a version ahead (the torn literals); the
    // retry re-delivers the multiset refresh (replay-guarded no-op),
    // refreshes the labels, commits cut 2 — whose pinned reads both
    // sides re-derive as union truth. Checksums ride md5-prefix
    // integers (portable both engines). StateManifestSpec pins
    // crash-between-members, fail-fast on torn pins, and retention.
    QueryDef("q278_consistent_cut", Some(s"""${toksCte()},
      fpt AS (SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(tokens)), ' ')) AS fp
              FROM toks),
      hfp AS (SELECT * FROM fpt WHERE doc_id % 5 <> 4),
      l1 AS (SELECT f.doc_id, MIN(g.doc_id) AS label
             FROM hfp f JOIN hfp g USING (fp) GROUP BY f.doc_id),
      l2 AS (SELECT f.doc_id, MIN(g.doc_id) AS label
             FROM fpt f JOIN fpt g USING (fp) GROUP BY f.doc_id),
      ht AS (SELECT * FROM toks WHERE doc_id % 5 <> 4),
      w1 AS (SELECT md5(list_aggregate(tokens[i:i+7], 'string_agg', ' ')) AS h
             FROM ht, LATERAL unnest(range(1, len(tokens) - 6)) r(i)),
      c1 AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM w1 GROUP BY h),
      w2 AS (SELECT md5(list_aggregate(tokens[i:i+7], 'string_agg', ' ')) AS h
             FROM toks, LATERAL unnest(range(1, len(tokens) - 6)) r(i)),
      c2 AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM w2 GROUP BY h)
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM c1 WHERE c >= 2) AS c1_n_dup,
        (SELECT CAST(SUM(('0x' || substr(h, 1, 8))::BIGINT * c) AS BIGINT)
         FROM c1) AS c1_chk_hashes,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM l1) AS c1_n_docs,
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM l1) AS c1_n_clusters,
        (SELECT CAST(SUM(doc_id * label) AS BIGINT) FROM l1) AS c1_chk_labels,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM c2 WHERE c >= 2) AS c2_n_dup,
        (SELECT CAST(SUM(('0x' || substr(h, 1, 8))::BIGINT * c) AS BIGINT)
         FROM c2) AS c2_chk_hashes,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM l2) AS c2_n_docs,
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM l2) AS c2_n_clusters,
        (SELECT CAST(SUM(doc_id * label) AS BIGINT) FROM l2) AS c2_chk_labels,
        CAST(1 AS BIGINT) AS manifest_cut1,
        CAST(2 AS BIGINT) AS manifest_cut2,
        CAST(2 AS BIGINT) AS es_head_at_crash,
        CAST(1 AS BIGINT) AS es_pin_at_crash,
        CAST(1 AS BIGINT) AS cs_pin_at_crash"""),
      (s, dir) => {
        import graft.dedup.{ClusterState, ExactSubstr}
        import graft.operators.StateManifest
        val toks = tokenized(s, dir)
          .localCheckpoint() // fp, both builds, both refreshes read it
        val fpt = toks.select(col("doc_id"),
            md5(concat_ws(" ", array_sort(array_distinct(col("tokens")))))
              .as("fp"))
          .localCheckpoint() // the pair self-join reads it twice
        val pairs = fpt.select(col("doc_id").as("id_a"), col("fp"))
          .join(fpt.select(col("doc_id").as("id_b"), col("fp")), "fp")
          .where(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
          .localCheckpoint() // history and delta splits read it
        val Seq(esDir, csDir, mDir) = ScratchDirs.fresh(dir, "q278es", "q278cs", "q278m")
        val hist = toks.where(col("doc_id") % 5 =!= 4)
        val delta = toks.where(col("doc_id") % 5 === 4)
        // two independent single-writer dirs: builds overlapped (§2.6)
        graft.operators.Par.both(
          () => ExactSubstr.build(hist, "doc_id", "tokens", L = 8, esDir),
          () => ClusterState.build(hist.select("doc_id"), "doc_id",
            pairs.where(col("id_a") % 5 =!= 4 && col("id_b") % 5 =!= 4),
            csDir))
        StateManifest.commit(s, mDir,
          Map("es" -> (esDir, 1L), "cs" -> (csDir, 1L)))
        // the pipeline advances ONE member, then "crashes" before the
        // sibling and the manifest
        ExactSubstr.refresh(delta, "doc_id", "tokens", esDir, deltaId = "d1")
        val cut1 = StateManifest.resolve(s, mDir).get
        val esHeadAtCrash =
          graft.operators.VersionedState.currentVersion(s, esDir).get
        def esStats(pin: Long, p: String) =
          ExactSubstr.hashCounts(s, esDir, asOf = Some(pin)).get
            .agg(sum(when(col("c") >= 2, 1L).otherwise(0L)).cast("long")
              .as(s"${p}_n_dup"),
              sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")
                * col("c")).cast("long").as(s"${p}_chk_hashes"))
        def csStats(pin: Long, p: String) =
          ClusterState.labels(s, csDir, asOf = Some(pin)).get
            .agg(count(lit(1)).as(s"${p}_n_docs"),
              countDistinct("label").as(s"${p}_n_clusters"),
              sum(col("id") * col("label")).cast("long").as(s"${p}_chk_labels"))
        // cut-1 pinned reads: BOTH artifacts pre-refresh, even though
        // the multiset's head moved
        val es1 = esStats(cut1("es")._2, "c1")
        val cs1 = csStats(cut1("cs")._2, "c1")
        // the retry: the multiset refresh re-delivers (replay-guarded
        // no-op), the labels catch up, the cut advances
        ExactSubstr.refresh(delta, "doc_id", "tokens", esDir, deltaId = "d1")
        ClusterState.refresh(delta.select("doc_id"), "doc_id",
          pairs.where(col("id_a") % 5 === 4 || col("id_b") % 5 === 4),
          csDir, deltaId = "d1")
        StateManifest.commit(s, mDir,
          Map("es" -> (esDir, 2L), "cs" -> (csDir, 2L)))
        val cut2 = StateManifest.resolve(s, mDir).get
        val es2 = esStats(cut2("es")._2, "c2")
        val cs2 = csStats(cut2("cs")._2, "c2")
        es1.crossJoin(cs1).crossJoin(es2).crossJoin(cs2)
          .select(col("c1_n_dup"), col("c1_chk_hashes"),
            col("c1_n_docs"), col("c1_n_clusters"), col("c1_chk_labels"),
            col("c2_n_dup"), col("c2_chk_hashes"),
            col("c2_n_docs"), col("c2_n_clusters"), col("c2_chk_labels"),
            lit(1L).as("manifest_cut1"), lit(2L).as("manifest_cut2"),
            lit(esHeadAtCrash).as("es_head_at_crash"),
            lit(cut1("es")._2).as("es_pin_at_crash"),
            lit(cut1("cs")._2).as("cs_pin_at_crash"))
      }),

    // ---- q279: EXACT-SUBSTRING EXCISION — q268's span table APPLIED:
    // the Lee et al. pipeline doesn't stop at finding duplicated
    // spans, it CUTS them, and what survives is the complement — per
    // doc, the token segments between its excised spans (plus the
    // whole doc when nothing was duplicated). The complement is pure
    // per-doc interval algebra over the maximal-span table: spans are
    // non-overlapping and non-adjacent by the island merge, so the
    // survivors are [1, s1) ∪ [e1, s2) ∪ … ∪ [ek, n+1) with empties
    // dropped. Each surviving segment carries the md5 of its token
    // slice, so the hash gate ties the excision to the CONTENT that
    // remains, not just the arithmetic. Scale shape: one q268 span
    // pass + per-doc lag/row_number windows + one slice-hash
    // projection — nothing global, no new corpus-sized exchange.
    QueryDef("q279_exact_substring_excise", Some(s"""${toksCte()},
      w AS (SELECT doc_id, i,
                   md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
            FROM toks, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      dc AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
      dw AS (SELECT w.doc_id, w.i FROM w JOIN dc USING (h)),
      mk AS (SELECT doc_id, i,
                    MAX(i + 6) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
             FROM dw),
      il AS (SELECT doc_id, i,
                    SUM(CASE WHEN pme IS NULL OR i > pme THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS island
             FROM mk),
      sp AS (SELECT doc_id, MIN(i) AS s, MAX(i) + 6 AS e
             FROM il GROUP BY doc_id, island),
      lens AS (SELECT doc_id, len(tokens) AS n FROM toks),
      gaps AS (SELECT doc_id,
                      COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
                        AS seg_start,
                      s AS seg_end
               FROM sp),
      tails AS (SELECT sp.doc_id, MAX(sp.e) AS seg_start, ln.n + 1 AS seg_end
                FROM sp JOIN lens ln USING (doc_id)
                GROUP BY sp.doc_id, ln.n),
      whole AS (SELECT ln.doc_id, 1 AS seg_start, ln.n + 1 AS seg_end
                FROM lens ln WHERE NOT EXISTS
                  (SELECT 1 FROM sp WHERE sp.doc_id = ln.doc_id)),
      segs AS (SELECT * FROM gaps UNION ALL SELECT * FROM tails
               UNION ALL SELECT * FROM whole),
      kept AS (SELECT doc_id, CAST(seg_start AS BIGINT) AS seg_start,
                      CAST(seg_end AS BIGINT) AS seg_end
               FROM segs WHERE seg_end > seg_start)
      SELECT k.doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY k.doc_id
               ORDER BY k.seg_start) AS BIGINT) AS seg_idx,
             k.seg_start, k.seg_end,
             k.seg_end - k.seg_start AS n_tokens,
             md5(list_aggregate(
               t.tokens[k.seg_start:k.seg_end - 1], 'string_agg', ' '))
               AS seg_hash
      FROM kept k JOIN toks t USING (doc_id)
      ORDER BY k.doc_id, k.seg_start"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.dedup.ExactSubstr
        val L = 6
        val toks = tokenized(s, dir)
          .localCheckpoint() // hashes, lens, and the slice-hash read it
        val w = ExactSubstr.windowHashes(toks, "doc_id", "tokens", L)
          .localCheckpoint() // the dup agg AND the join-back read it
        val dup = w.groupBy("h").agg(count(lit(1)).as("c"))
          .where(col("c") >= 2).select("h")
        val sp = ExactSubstr.spans(toks, "doc_id", "tokens", L, dup)
          .select(col("doc").as("doc_id"), col("span_start").as("s"),
            col("span_end").as("e"))
          .localCheckpoint() // gaps, tails, and the anti-join read it
        val lens = toks.select(col("doc_id"), size(col("tokens")).as("n"))
        val wd = Window.partitionBy("doc_id").orderBy("s")
        val gaps = sp.select(col("doc_id"),
          coalesce(lag("e", 1).over(wd), lit(1L)).as("seg_start"),
          col("s").as("seg_end"))
        val tails = sp.groupBy("doc_id").agg(max("e").as("seg_start"))
          .join(lens, "doc_id")
          .select(col("doc_id"), col("seg_start"),
            (col("n") + 1).cast("long").as("seg_end"))
        val whole = lens.join(sp.select("doc_id").distinct(),
            Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit(1L).as("seg_start"),
            (col("n") + 1).cast("long").as("seg_end"))
        val kept = gaps.unionByName(tails).unionByName(whole)
          .where(col("seg_end") > col("seg_start"))
        val wseg = Window.partitionBy("doc_id").orderBy("seg_start")
        kept.join(toks, "doc_id")
          .select(col("doc_id"),
            row_number().over(wseg).cast("long").as("seg_idx"),
            col("seg_start"), col("seg_end"),
            (col("seg_end") - col("seg_start")).as("n_tokens"),
            md5(concat_ws(" ", expr(
              "slice(tokens, cast(seg_start as int), " +
                "cast(seg_end - seg_start as int))")))
              .as("seg_hash"))
          .orderBy("doc_id", "seg_start")
      }),

    // ---- q280: SUBSTRING DECONTAMINATION — the benchmark-leakage
    // check run the way contamination actually manifests: VERBATIM
    // token windows of an evaluation set appearing inside training
    // documents (q67/q73/q74 decontaminate by whole-doc fingerprints
    // and n-gram overlap; this is the exact-span variant — it finds a
    // single leaked test question pasted into an otherwise-clean page
    // and reports the exact token extents to cut). The needle set is
    // every distinct window hash of the held-out docs (doc_id % 19 =
    // 5); training docs' matching windows merge into maximal spans
    // (ExactSubstr.spans against the needle set instead of the
    // self-dup set), each reported with its doc's contamination
    // ratio. Scale shape: the needle side is eval-corpus-sized
    // (bounded, broadcastable), the train side streams through one
    // window explode + one hash equi-join — q268's plan with a
    // foreign right side.
    QueryDef("q280_substring_decontam", Some(s"""${toksCte()},
      ev AS (SELECT doc_id, tokens FROM toks WHERE doc_id % 19 = 5),
      tr AS (SELECT doc_id, tokens FROM toks WHERE doc_id % 19 <> 5),
      needles AS (SELECT DISTINCT
                    md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
                  FROM ev, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      w AS (SELECT doc_id, i,
                   md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
            FROM tr, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      dw AS (SELECT w.doc_id, w.i FROM w JOIN needles USING (h)),
      mk AS (SELECT doc_id, i,
                    MAX(i + 6) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
             FROM dw),
      il AS (SELECT doc_id, i,
                    SUM(CASE WHEN pme IS NULL OR i > pme THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS island
             FROM mk),
      sp AS (SELECT doc_id, CAST(island AS BIGINT) AS span_idx,
                    CAST(MIN(i) AS BIGINT) AS span_start,
                    CAST(MAX(i) + 6 AS BIGINT) AS span_end,
                    CAST(MAX(i) + 6 - MIN(i) AS BIGINT) AS span_len,
                    CAST(COUNT(*) AS BIGINT) AS n_windows
             FROM il GROUP BY doc_id, island),
      tot AS (SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS contam_tokens
              FROM sp GROUP BY doc_id)
      SELECT sp.doc_id, sp.span_idx, sp.span_start, sp.span_end,
             sp.span_len, sp.n_windows,
             CAST(len(t.tokens) AS BIGINT) AS doc_tokens,
             tot.contam_tokens,
             ROUND(CAST(tot.contam_tokens AS DOUBLE) / len(t.tokens), 6)
               AS contam_ratio
      FROM sp JOIN tot USING (doc_id) JOIN toks t USING (doc_id)
      ORDER BY sp.doc_id, sp.span_start"""),
      (s, dir) => {
        import graft.dedup.ExactSubstr
        val L = 6
        val toks = tokenized(s, dir)
          .localCheckpoint() // eval needles, train windows, doc lens
        val needles = ExactSubstr.windowHashes(
            toks.where(col("doc_id") % 19 === 5), "doc_id", "tokens", L)
          .select("h").distinct()
        val sp = ExactSubstr.spans(
            toks.where(col("doc_id") % 19 =!= 5), "doc_id", "tokens", L,
            needles)
          .select(col("doc").as("doc_id"), col("span_idx"),
            col("span_start"), col("span_end"), col("span_len"),
            col("n_windows"))
          .localCheckpoint() // per-doc totals AND the output read it
        val tot = sp.groupBy("doc_id")
          .agg(sum("span_len").cast("long").as("contam_tokens"))
        sp.join(tot, "doc_id")
          .join(toks.select(col("doc_id"),
            size(col("tokens")).cast("long").as("doc_tokens")), "doc_id")
          .select(col("doc_id"), col("span_idx"), col("span_start"),
            col("span_end"), col("span_len"), col("n_windows"),
            col("doc_tokens"), col("contam_tokens"),
            round(col("contam_tokens").cast("double") / col("doc_tokens"), 6)
              .as("contam_ratio"))
          .orderBy("doc_id", "span_start")
      }),

    // ---- q281: BM25 retrieval index MAINTAINED across ingest AND
    // erasure batches — q119 run the way a retrieval service runs in
    // production (graft.text.Bm25State), and the RETRIEVAL member of
    // the durable maintenance family: the postings + doc-length
    // tables are durable VersionedState built on the HISTORY docs
    // (doc_id % 5 ≠ 4), the 20% delta refreshes them by tokenizing
    // ONLY its own docs, the dedup pipeline's erasure verdict
    // (doc_id % 7 = 3) RETRACTS via negated counts (postings are
    // linear like q274's window-hash multiset — deletion is a merge,
    // where the ANN family needs tombstones), compact folds the 4
    // count tables into one, and a post-compact re-delivery of the
    // refresh id is a no-op via the compaction-carried sidecar. The
    // top-10 for a 3-term query scored off the MAINTAINED index must
    // equal a one-shot q119-style compute over the survivor corpus
    // exactly (the oracle IS that one-shot: a hash mismatch here is
    // state drift — counts are linear, so any difference is
    // corruption, never approximation). Scale shape: the per-batch
    // state delta is one explode + hash agg over the batch; the
    // query-time term filter pushes below the live-sum agg and the
    // segment union into every parquet scan (a k-term query reads k
    // terms' postings, not the corpus); df/stats ride one-row
    // broadcasts; the cut is TakeOrderedAndProject. Bm25StateSpec
    // pins the restart/replay/retract/compact/maintain semantics the
    // oracle can't see.
    QueryDef("q281_bm25_maintain", Some(s"""${toksCte("doc_id % 7 <> 3")},
      qterms AS (SELECT unnest(['vector', 'stream', 'merge']) AS term),
      len AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl
              FROM toks WHERE len(tokens) >= 1),
      stats AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                FROM len),
      tf AS (SELECT t.doc_id, tok.token AS term, COUNT(*) AS tf
             FROM toks t, unnest(t.tokens) AS tok(token)
             WHERE tok.token IN (SELECT term FROM qterms)
             GROUP BY 1, 2),
      df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      sc AS (SELECT f.doc_id,
               ln(((SELECT nd FROM stats) - d.df + 0.5) / (d.df + 0.5) + 1)
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (SELECT avgdl FROM stats))) AS s
             FROM tf f JOIN df d USING (term) JOIN len l USING (doc_id))
      SELECT doc_id, ROUND(SUM(s), 6) AS bm25
      FROM sc GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT 10"""),
      (s, dir) => {
        import graft.text.Bm25State
        val toks = tokenized(s, dir).localCheckpoint() // hist/delta/erasure splits
        val hist = toks.where(col("doc_id") % 5 =!= 4)
        val delta = toks.where(col("doc_id") % 5 === 4)
        val dead = toks.where(col("doc_id") % 7 === 3)
        // fresh state dir per execution (the q266 discipline: bench reps
        // and repeated verify runs each exercise the full cycle)
        val stDir = ScratchDirs.fresh(dir, "q281").head
        Bm25State.build(hist, "doc_id", "tokens", stDir)
        // incremental refresh: ONLY the delta tokenized, replay-guarded
        Bm25State.refresh(delta, "doc_id", "tokens", stDir, deltaId = "d1")
        Bm25State.refresh(delta, "doc_id", "tokens", stDir, deltaId = "d1") // replayed: no-op
        // the erasure verdict, delivered twice under one id (q272's
        // at-least-once discipline): a merge of negated counts
        Bm25State.retract(dead, "doc_id", "tokens", stDir, deltaId = "r1")
        Bm25State.retract(dead, "doc_id", "tokens", stDir, deltaId = "r1") // replayed: no-op
        Bm25State.compact(s, stDir) // 4 count tables fold to 1
        // post-compact re-delivery: the sidecar-carried guard holds
        Bm25State.refresh(delta, "doc_id", "tokens", stDir, deltaId = "d1")
        Bm25State.topK(s, stDir, Seq("vector", "stream", "merge"), 10)
          .select(col("doc").as("doc_id"), col("bm25"))
      }),

    // ---- q282: DECONTAMINATION → RETRIEVAL EXCISION — the q275
    // composition on the retrieval side: q280's contamination verdict
    // (training docs carrying VERBATIM eval-set windows) drives
    // Bm25State.delete on a SERVING index built before the verdict —
    // without id-erasure, a leaked test question keeps being
    // RETRIEVABLE (and keeps distorting df/avgdl for every query)
    // until the next full reindex. The verdict is delivered twice
    // under one id (at-least-once discipline); delete negates the
    // LIVE postings by id alone — no token rows needed, and a
    // replayed or overlapping verdict is idempotent by ALGEBRA (zero
    // live counts negate to nothing). The top-10 off the maintained
    // index must equal a one-shot BM25 over exactly the clean
    // survivor corpus (the oracle re-derives the whole chain in SQL:
    // needles → contaminated ids → survivor BM25). Scale shape: the
    // needle side is eval-corpus-sized (broadcastable); the verdict
    // is one window explode + hash equi-join over the train side
    // (q280's plan); the erasure is one broadcast of the
    // verdict-bounded id set against one scan of the live tables.
    QueryDef("q282_decontam_excision", Some(s"""${toksCte()},
      ev AS (SELECT doc_id, tokens FROM toks WHERE doc_id % 19 = 5),
      tr AS (SELECT doc_id, tokens FROM toks WHERE doc_id % 19 <> 5),
      needles AS (SELECT DISTINCT
                    md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
                  FROM ev, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      w AS (SELECT doc_id, md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
            FROM tr, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      contam AS (SELECT DISTINCT w.doc_id FROM w JOIN needles USING (h)),
      clean AS (SELECT t.doc_id, t.tokens FROM tr t
                WHERE t.doc_id NOT IN (SELECT doc_id FROM contam)),
      qterms AS (SELECT unnest(['scan', 'row', 'column']) AS term),
      len AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl
              FROM clean WHERE len(tokens) >= 1),
      stats AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                FROM len),
      tf AS (SELECT c.doc_id, tok.token AS term, COUNT(*) AS tf
             FROM clean c, unnest(c.tokens) AS tok(token)
             WHERE tok.token IN (SELECT term FROM qterms)
             GROUP BY 1, 2),
      df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      sc AS (SELECT f.doc_id,
               ln(((SELECT nd FROM stats) - d.df + 0.5) / (d.df + 0.5) + 1)
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (SELECT avgdl FROM stats))) AS s
             FROM tf f JOIN df d USING (term) JOIN len l USING (doc_id))
      SELECT doc_id, ROUND(SUM(s), 6) AS bm25
      FROM sc GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT 10"""),
      (s, dir) => {
        import graft.dedup.ExactSubstr
        import graft.text.Bm25State
        val L = 6
        val toks = tokenized(s, dir).localCheckpoint() // ev/tr splits + windows
        val ev = toks.where(col("doc_id") % 19 === 5)
        val tr = toks.where(col("doc_id") % 19 =!= 5)
        val stDir = ScratchDirs.fresh(dir, "q282").head
        // the serving index exists BEFORE the verdict; the build and
        // the contamination-verdict derivation are independent inputs —
        // overlap them (guide §2.6)
        val (_, contam) = graft.operators.Par.both(
          () => Bm25State.build(tr, "doc_id", "tokens", stDir),
          () => {
            val needles = ExactSubstr.windowHashes(ev, "doc_id", "tokens", L)
              .select("h").distinct()
            ExactSubstr.windowHashes(tr, "doc_id", "tokens", L)
              .join(needles, "h").select(col("doc").as("doc_id")).distinct()
              .localCheckpoint() // the erasure negates postings AND doclen
          })
        // the verdict, delivered twice under one id
        Bm25State.delete(contam, "doc_id", stDir, deltaId = "decon1")
        Bm25State.delete(contam, "doc_id", stDir, deltaId = "decon1") // replayed: no-op
        Bm25State.topK(s, stDir, Seq("scan", "row", "column"), 10)
          .select(col("doc").as("doc_id"), col("bm25"))
      }),

    // ---- q283: TRAINABLE quality filter — distributed training as an
    // engine primitive, not just fixed heuristics (q32/q69/q102 score
    // by formula; q106's Naive Bayes is closed-form counting; this is
    // the ITERATIVE case): a linear model fit by 8 rounds of
    // full-batch gradient descent on squared error under a SOFTSIGN
    // link p = \u00bd + \u00bd\u00b7s/(1+|s|). The link is the point: every op in
    // the model (add/mul/div/abs) is IEEE-exact, so — unlike a
    // logistic exp() whose libm last-ulp may differ across engines —
    // the whole training run is bit-reproducible against the oracle.
    // The OTHER reproducibility hazard is the gradient SUM itself
    // (double hash-agg sums are engine-order-dependent), closed the
    // q166/q269 way: per-row gradient contributions round to NANO
    // LONGS and sum exactly, so each iteration's weight update derives
    // from exact integers pushed through one identical double tree.
    // The task is honest supervision: predict the n_chars > 300
    // metadata proxy from TOKEN-side statistics alone (centered
    // type-token ratio, mean token length, saturating length score) —
    // the label is not a function of any single feature, and the fit
    // moves accuracy from the 0.51 base rate to ~0.94 with the weight
    // signs recovering the real structure (w_sat > 0, w_ttr < 0: TTR
    // anticorrelates with length). Scale shape: ONE feature pass over
    // the corpus (checkpointed), then one partial-agg scan per GD
    // iteration with the weights riding the driver (4 doubles) — the
    // standard distributed full-batch GD plan; no window, no corpus
    // shuffle beyond the agg exchanges. lr = 4 and 8 iterations are
    // pre-registered dials (chosen on sf0.01, applied unchanged at
    // every SF); the oracle unrolls all 8 as CTE blocks, the q136/q53
    // iterative-training discipline.
    QueryDef("q283_quality_lr", Some(s"""${toksCte()},
      feat AS (SELECT t.doc_id,
          CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) - 0.5 AS x1,
          CAST(list_aggregate(list_transform(tokens, t -> len(t)), 'sum')
            AS DOUBLE) / len(tokens) - 4.5 AS x2,
          CAST(len(tokens) AS DOUBLE) / (50 + len(tokens)) - 0.5 AS x3,
          CASE WHEN d.n_chars > 300 THEN 1.0 ELSE 0.0 END AS y
        FROM toks t JOIN documents d ON t.doc_id = d.doc_id
        WHERE len(tokens) >= 1),
      nn AS (SELECT COUNT(*) AS n FROM feat),
      wt0 AS (SELECT 0.0 AS wb, 0.0 AS w1c, 0.0 AS w2c, 0.0 AS w3c)${(1 to 8).map(k => s""",
      s$k AS (SELECT f.*, w.wb + w.w1c * f.x1 + w.w2c * f.x2 + w.w3c * f.x3 AS s
             FROM feat f, wt${k - 1} w),
      e$k AS (SELECT *, (0.5 + 0.5 * s / (1 + abs(s)) - y)
                       * (0.5 / ((1 + abs(s)) * (1 + abs(s)))) AS e FROM s$k),
      g$k AS (SELECT SUM(CAST(ROUND(e * 1e9) AS BIGINT)) AS gb,
                    SUM(CAST(ROUND(e * x1 * 1e9) AS BIGINT)) AS gx1,
                    SUM(CAST(ROUND(e * x2 * 1e9) AS BIGINT)) AS gx2,
                    SUM(CAST(ROUND(e * x3 * 1e9) AS BIGINT)) AS gx3 FROM e$k),
      wt$k AS (SELECT w.wb - 4.0 * (CAST(g.gb AS DOUBLE) / 1e9 / nn.n) AS wb,
                     w.w1c - 4.0 * (CAST(g.gx1 AS DOUBLE) / 1e9 / nn.n) AS w1c,
                     w.w2c - 4.0 * (CAST(g.gx2 AS DOUBLE) / 1e9 / nn.n) AS w2c,
                     w.w3c - 4.0 * (CAST(g.gx3 AS DOUBLE) / 1e9 / nn.n) AS w3c
              FROM wt${k - 1} w, g$k g, nn)""").mkString},
      sc AS (SELECT f.y, w.wb + w.w1c * f.x1 + w.w2c * f.x2 + w.w3c * f.x3 AS s
             FROM feat f, wt8 w),
      fin AS (SELECT COUNT(*) AS n,
                     SUM(CASE WHEN ((0.5 + 0.5 * s / (1 + abs(s))) > 0.5)
                                   = (y > 0.5)
                         THEN 1 ELSE 0 END) AS correct FROM sc)
      SELECT fin.n, ROUND(w.wb, 9) AS w_bias, ROUND(w.w1c, 9) AS w_ttr,
             ROUND(w.w2c, 9) AS w_len, ROUND(w.w3c, 9) AS w_sat,
             ROUND(CAST(fin.correct AS DOUBLE) / fin.n, 6) AS acc
      FROM fin, wt8 w"""),
      (s, dir) => {
        // the trainer is graft.text.QualityModel — extracted so q291's
        // STORED model is byte-for-byte this same fit
        import graft.text.QualityModel
        val feat = QualityModel.features(tokenized(s, dir), "doc_id",
            "tokens", docs(s, dir), "n_chars")
          .localCheckpoint() // one feature pass; every GD scan reads it
        val (w, n, acc) = QualityModel.fitWeights(feat)
        s.range(1).select(lit(n).as("n"),
          round(lit(w(0)), 9).as("w_bias"), round(lit(w(1)), 9).as("w_ttr"),
          round(lit(w(2)), 9).as("w_len"), round(lit(w(3)), 9).as("w_sat"),
          round(lit(acc), 6).as("acc"))
      }),

    // ---- q285: MAINTAINED banded-signature index — q89's missing
    // half: the incremental-dedup query blocks a fresh batch against
    // the corpus WITHOUT corpus×corpus pairing, but it still RE-BANDS
    // the whole corpus side per run — a full corpus re-tokenize +
    // re-minhash per ingest batch, the cost the steady-state pipeline
    // cannot pay at 100 TB. graft.dedup.BandedIndex stores the corpus
    // band-bucket table as VersionedState (chunk-hash bucket-
    // PARTITIONED like Bm25State's postings) and evolves it by the
    // family lifecycle: build on history, refresh with ONLY the delta
    // (replayed under one id — no-op), erasure verdicts delete by id
    // alone (band rows are linear counts re-derivable from state;
    // delivered twice — algebra-idempotent), compact folds the 4
    // count tables (replay guard rides the sidecar; a post-compact
    // re-delivery stays a no-op), and the fresh batch's admission
    // screen probes ONLY its chunks' bucket partitions. The screened
    // candidates (skew cap counting BOTH sides, exactly q89's dial)
    // feed the same bigram-Jaccard verification; the answer must
    // equal a one-shot q89-style run over exactly the live corpus —
    // the oracle re-derives the whole chain in SQL (signatures →
    // bands → cap → cross-side block → verify → per-fresh-doc
    // verdict), so a hash mismatch is state drift, never
    // approximation. Scale shape: the per-batch state delta is one
    // map-side signature pass over the batch; the probe collects ≤ B
    // bucket ids driver-side and reads only those partitions; the
    // only windows are the per-(band, chunk) cap counts, exactly
    // q89's plan with the corpus side read from disk.
    QueryDef("q285_banded_index_maintain", Some(s"""${toksCte()},
      uni AS (SELECT doc_id, tokens FROM toks
              WHERE doc_id % 19 = 7 OR doc_id % 7 <> 3),
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM uni),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus
               FROM kept f JOIN kept c
                 ON f.b = c.b AND f.chunk = c.chunk
                    AND f.doc_id % 19 = 7 AND c.doc_id % 19 <> 7),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM uni),
      ver AS (SELECT id_new, id_corpus FROM
                (SELECT cd.id_new, cd.id_corpus,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand cd JOIN sh a ON a.doc_id = cd.id_new
                              JOIN sh b ON b.doc_id = cd.id_corpus)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      agg AS (SELECT id_new, MIN(id_corpus) AS dup_of, COUNT(*) AS n_dups
              FROM ver GROUP BY id_new)
      SELECT t.doc_id, a.dup_of IS NULL AS is_unique, a.dup_of,
             COALESCE(a.n_dups, 0) AS n_dups
      FROM (SELECT doc_id FROM toks WHERE doc_id % 19 = 7) t
      LEFT JOIN agg a ON a.id_new = t.doc_id
      ORDER BY doc_id"""),
      (s, dir) => {
        import graft.dedup.{BandedIndex, Dedup}
        val toks = tokenized(s, dir)
          .localCheckpoint() // splits, screen, and verification read it
        val fresh = toks.where(col("doc_id") % 19 === 7)
        val corpusAll = toks.where(col("doc_id") % 19 =!= 7)
        val hist = corpusAll.where(col("doc_id") % 5 =!= 4)
        val delta = corpusAll.where(col("doc_id") % 5 === 4)
        val dead = corpusAll.where(col("doc_id") % 7 === 3)
        val stDir = ScratchDirs.fresh(dir, "q285").head
        BandedIndex.build(hist, "doc_id", "tokens", stDir)
        // incremental refresh: ONLY the delta banded, replay-guarded
        BandedIndex.refresh(delta, "doc_id", "tokens", stDir, deltaId = "d1")
        BandedIndex.refresh(delta, "doc_id", "tokens", stDir, deltaId = "d1") // replayed: no-op
        // the erasure verdict by id alone, delivered twice under one id
        BandedIndex.delete(dead.select("doc_id"), "doc_id", stDir,
          deltaId = "e1")
        BandedIndex.delete(dead.select("doc_id"), "doc_id", stDir,
          deltaId = "e1") // replayed: no-op
        BandedIndex.compact(s, stDir) // 4 count tables fold to 1
        // post-compact re-delivery: the sidecar-carried guard holds
        BandedIndex.refresh(delta, "doc_id", "tokens", stDir, deltaId = "d1")
        val cand = BandedIndex.screen(fresh, "doc_id", "tokens", stDir,
            maxBucketSize = 50)
          .localCheckpoint() // the id restriction AND the verify read it
        // candidate-bounded verification end to end: shingles computed
        // only for docs a candidate pair names (q89's semi-join note)
        val needed = cand.select(col("id_new").as("doc_id"))
          .unionByName(cand.select(col("id_corpus").as("doc_id")))
          .distinct()
        val live = corpusAll.where(col("doc_id") % 7 =!= 3)
        val verified = Dedup.verifyJaccard(
            live.unionByName(fresh)
              .join(broadcast(needed), Seq("doc_id"), "left_semi"),
            "doc_id", "tokens",
            cand.select(col("id_new").as("id_a"), col("id_corpus").as("id_b")))
          .where(col("jaccard") >= 0.5)
        val agg = verified.groupBy(col("id_a").as("doc_id"))
          .agg(min(col("id_b")).as("dup_of"), count(lit(1)).as("n_dups"))
        fresh.select("doc_id").join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of").isNull.as("is_unique"),
            col("dup_of"), coalesce(col("n_dups"), lit(0L)).as("n_dups"))
          .orderBy("doc_id")
      }),

    // ---- q286: MAINTAINED NEEDLE STATE — the last unversioned input
    // of the serving stack closes: q280/q282/q284 re-derive the eval
    // needle set one-shot per run, but eval suites EVOLVE by versions
    // too, and an unversioned needle set means the contamination
    // verdict silently changes under a reader's feet. The needle
    // window-hash multiset is stored as its own ExactSubstr state
    // (keyed by the eval corpus, L recovered from the base) and pinned
    // under the SAME StateManifest cut as the serving index. Cycle:
    // build the BM25 index on train + the needle state on eval-v1,
    // cut 1; excise the v1-contaminated docs (verdict delivered twice
    // — replay no-op), cut 2; the eval suite UPDATES (new docs
    // doc_id % 19 = 11 refresh the needle state, delivered twice),
    // the wider verdict excises again (overlapping the first — delete
    // negates LIVE counts, so the overlap is idempotent by ALGEBRA),
    // cut 3. The gate: the top-10 served under cut 2 vs cut 3 — the
    // OLD cut must keep serving docs only the NEW suite contaminates
    // (old cut = old verdict), the new cut must not; the oracle
    // re-derives both chains in SQL (needles-v1 → survivor BM25;
    // needles-v1∪v2 → survivor BM25). Scale shape: the needle side is
    // eval-corpus-sized (broadcastable); each verdict is one window
    // explode + hash equi-join over train; each excision is one
    // verdict-bounded commit; every serve read is asOf-pinned and
    // reads pruned postings buckets only.
    QueryDef("q286_needle_state_cuts", Some {
      def bmTop(clean: String, p: String): String = s"""
      len$p AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl
              FROM $clean WHERE len(tokens) >= 1),
      stats$p AS (SELECT COUNT(*) AS nd,
                         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                  FROM len$p),
      tf$p AS (SELECT c.doc_id, tok.token AS term, COUNT(*) AS tf
             FROM $clean c, unnest(c.tokens) AS tok(token)
             WHERE tok.token IN (SELECT term FROM qterms)
             GROUP BY 1, 2),
      df$p AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf$p GROUP BY term),
      sc$p AS (SELECT f.doc_id,
               ln(((SELECT nd FROM stats$p) - d.df + 0.5) / (d.df + 0.5) + 1)
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl
                                / (SELECT avgdl FROM stats$p))) AS s
             FROM tf$p f JOIN df$p d USING (term) JOIN len$p l USING (doc_id)),
      bm$p AS (SELECT doc_id, ROUND(SUM(s), 6) AS bm25
             FROM sc$p GROUP BY doc_id
             ORDER BY bm25 DESC, doc_id LIMIT 10)"""
      s"""${toksCte()},
      ev1 AS (SELECT doc_id, tokens FROM toks WHERE doc_id % 19 = 5),
      ev2 AS (SELECT doc_id, tokens FROM toks WHERE doc_id % 19 = 11),
      tr AS (SELECT doc_id, tokens FROM toks
             WHERE doc_id % 19 NOT IN (5, 11)),
      n1 AS (SELECT DISTINCT
               md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
             FROM ev1, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      n2 AS (SELECT h FROM n1 UNION
             SELECT DISTINCT
               md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
             FROM ev2, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      w AS (SELECT doc_id,
                   md5(list_aggregate(tokens[i:i+5], 'string_agg', ' ')) AS h
            FROM tr, LATERAL unnest(range(1, len(tokens) - 4)) r(i)),
      c1 AS (SELECT DISTINCT w.doc_id FROM w JOIN n1 USING (h)),
      c2 AS (SELECT DISTINCT w.doc_id FROM w JOIN n2 USING (h)),
      qterms AS (SELECT unnest(['hash', 'filter', 'batch']) AS term),
      clean1 AS (SELECT t.doc_id, t.tokens FROM tr t
                 WHERE t.doc_id NOT IN (SELECT doc_id FROM c1)),
      clean2 AS (SELECT t.doc_id, t.tokens FROM tr t
                 WHERE t.doc_id NOT IN (SELECT doc_id FROM c2)),${bmTop("clean1", "1")},${bmTop("clean2", "2")}
      SELECT COALESCE(o.doc_id, nn.doc_id) AS doc_id,
             o.bm25 AS bm25_old_cut, nn.bm25 AS bm25_new_cut,
             (o.doc_id IS NOT NULL AND nn.doc_id IS NULL)
               AS dropped_by_update,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n_excised_old,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) AS n_excised_new,
             (SELECT CAST(nd AS BIGINT) FROM stats1) AS nd_old,
             (SELECT CAST(nd AS BIGINT) FROM stats2) AS nd_new
      FROM bm1 o FULL OUTER JOIN bm2 nn ON o.doc_id = nn.doc_id
      ORDER BY doc_id"""
    },
      (s, dir) => {
        import graft.dedup.ExactSubstr
        import graft.operators.StateManifest
        import graft.text.Bm25State
        val L = 6
        val terms = Seq("hash", "filter", "batch")
        val toks = tokenized(s, dir).localCheckpoint() // splits + windows
        val ev1 = toks.where(col("doc_id") % 19 === 5)
        val ev2 = toks.where(col("doc_id") % 19 === 11)
        val tr = toks.where(col("doc_id") % 19 =!= 5 &&
          col("doc_id") % 19 =!= 11)
        val Seq(bmDir, nsDir, mDir) = ScratchDirs.fresh(dir, "q286bm", "q286ns", "q286mf")
        // cut 1: index + needle state born together — independent
        // single-writer dirs; the train-window pass is independent of
        // both, so all three overlap (§2.6)
        val Seq(bv1x, nv1x, trwX) = graft.operators.Par.run[Any](Seq(
          () => Bm25State.build(tr, "doc_id", "tokens", bmDir),
          () => ExactSubstr.build(ev1, "doc_id", "tokens", L, nsDir),
          () => ExactSubstr.windowHashes(tr, "doc_id", "tokens", L)
            .localCheckpoint())) // both verdicts read it
        val (bv1, nv1) = (bv1x.asInstanceOf[Long], nv1x.asInstanceOf[Long])
        val trWindows = trwX.asInstanceOf[DataFrame]
        StateManifest.commit(s, mDir,
          Map("bm" -> (bmDir, bv1), "ns" -> (nsDir, nv1)))
        // excision round 1: the verdict derives from the PINNED needle
        // state (c ≥ 1 — the needle set is the whole eval multiset),
        // delivered twice under one id
        val cut1 = StateManifest.resolve(s, mDir).get
        val needles1 = ExactSubstr.hashCounts(s, nsDir,
          asOf = Some(cut1("ns")._2)).get.select("h")
        val contam1 = trWindows.join(needles1, "h")
          .select(col("doc").as("doc_id")).distinct()
          .localCheckpoint() // the erasure + its replay read it
        val bv2 = Bm25State.delete(contam1, "doc_id", bmDir, "x1")
        Bm25State.delete(contam1, "doc_id", bmDir, "x1") // replayed: no-op
        StateManifest.commit(s, mDir,
          Map("bm" -> (bmDir, bv2), "ns" -> (nsDir, nv1))) // cut 2
        // the eval suite UPDATES: a refresh of the needle state,
        // delivered twice under one id
        val nv2 = ExactSubstr.refresh(ev2, "doc_id", "tokens", nsDir, "ev2")
        ExactSubstr.refresh(ev2, "doc_id", "tokens", nsDir, "ev2") // replayed
        // excision round 2: the WIDER verdict — overlaps round 1, and
        // delete() negates LIVE counts, so the overlap is idempotent
        // by algebra (already-dead docs negate nothing)
        val needles2 = ExactSubstr.hashCounts(s, nsDir,
          asOf = Some(nv2)).get.select("h")
        val contam2 = trWindows.join(needles2, "h")
          .select(col("doc").as("doc_id")).distinct()
          .localCheckpoint()
        val bv3 = Bm25State.delete(contam2, "doc_id", bmDir, "x2")
        StateManifest.commit(s, mDir,
          Map("bm" -> (bmDir, bv3), "ns" -> (nsDir, nv2))) // cut 3
        // serve through BOTH cuts: the old cut keeps serving the old
        // verdict (docs only the NEW suite contaminates), the new one
        // doesn't — pinned asOf reads, pruned postings buckets only
        val cut2 = StateManifest.readCut(s, mDir, 2L)
        val cut3 = StateManifest.readCut(s, mDir, 3L)
        val old = Bm25State.topK(s, bmDir, terms, 10,
            asOf = Some(cut2("bm")._2))
          .select(col("doc").as("doc_id"), col("bm25").as("bm25_old_cut"))
        val neu = Bm25State.topK(s, bmDir, terms, 10,
            asOf = Some(cut3("bm")._2))
          .select(col("doc").as("doc_id"), col("bm25").as("bm25_new_cut"))
        // the moved verdict must be VISIBLE in the output even when no
        // newly-excised doc cracks the top-10: per-cut excision counts
        // and the per-cut corpus size N (one-row broadcasts)
        val meta = contam1.agg(count(lit(1)).as("n_excised_old"))
          .crossJoin(contam2.agg(count(lit(1)).as("n_excised_new")))
          .crossJoin(Bm25State.stats(s, bmDir, asOf = Some(cut2("bm")._2))
            .select(col("nd").as("nd_old")))
          .crossJoin(Bm25State.stats(s, bmDir, asOf = Some(cut3("bm")._2))
            .select(col("nd").as("nd_new")))
        old.join(neu, Seq("doc_id"), "full_outer")
          .crossJoin(broadcast(meta))
          .select(col("doc_id"), col("bm25_old_cut"), col("bm25_new_cut"),
            (col("bm25_old_cut").isNotNull && col("bm25_new_cut").isNull)
              .as("dropped_by_update"),
            col("n_excised_old"), col("n_excised_new"),
            col("nd_old"), col("nd_new"))
          .orderBy("doc_id")
      }),

    // ---- q287: THE SELF-MAINTAINING ADMISSION LOOP — q285's
    // machinery composed into the loop it exists for: the maintained
    // banded index SCREENS each ingest batch, verified near-dups are
    // REJECTED, and only the admitted survivors refresh the index that
    // screens the NEXT batch — admission decisions feed back into the
    // state that makes the next decision. The sequential dependence is
    // the point (and what an all-at-once dedup gets wrong): a batch-2
    // doc whose only duplicate partner was a REJECTED batch-1 doc must
    // be ADMITTED, because the rejected doc never entered the corpus.
    // Cycle: build on the seed third (doc_id % 3 = 0); batch 1
    // (% 3 = 1) screens → verifies (bigram Jaccard ≥ 0.5, cap 50 both
    // sides) → survivors refresh under one id (delivered twice);
    // compact (the replay guard rides the sidecar); batch 2 (% 3 = 2)
    // screens against seed ∪ admitted-1 — the post-compact re-delivery
    // of batch 1's id stays a no-op in the gated path. Output: every
    // batch doc's verdict (admitted, smallest verified live duplicate,
    // dup count); the oracle unrolls BOTH rounds in SQL (band → cap →
    // cross-side block → verify → reject → the admitted set feeding
    // round 2's corpus), so a hash mismatch is state drift or a
    // feedback error, never approximation. Scale shape: each round is
    // one map-side signature pass over its batch + a partition-pruned
    // probe + candidate-bounded verification + a delta-sized refresh;
    // the loop never re-pairs history with itself.
    QueryDef("q287_admission_loop", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      r1 AS (SELECT doc_id, b, chunk FROM band WHERE doc_id % 3 IN (0, 1)),
      k1 AS (SELECT doc_id, b, chunk FROM
               (SELECT doc_id, b, chunk,
                       COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM r1)
             WHERE bsz <= 50),
      c1 AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus
             FROM k1 f JOIN k1 c
               ON f.b = c.b AND f.chunk = c.chunk
                  AND f.doc_id % 3 = 1 AND c.doc_id % 3 = 0),
      v1 AS (SELECT id_new, id_corpus FROM
               (SELECT cd.id_new, cd.id_corpus,
                       CASE WHEN len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                            ELSE len(list_intersect(a.sh, b.sh))
                                 / (len(a.sh) + len(b.sh)
                                    - len(list_intersect(a.sh, b.sh))) END AS jac
                FROM c1 cd JOIN sh a ON a.doc_id = cd.id_new
                           JOIN sh b ON b.doc_id = cd.id_corpus)
             WHERE jac >= CAST(0.5 AS DOUBLE)),
      a1 AS (SELECT id_new, MIN(id_corpus) AS dup_of, COUNT(*) AS n_dups
             FROM v1 GROUP BY id_new),
      adm1 AS (SELECT doc_id FROM toks WHERE doc_id % 3 = 1
               AND doc_id NOT IN (SELECT id_new FROM a1)),
      r2 AS (SELECT doc_id, b, chunk FROM band
             WHERE doc_id % 3 IN (0, 2)
                OR doc_id IN (SELECT doc_id FROM adm1)),
      k2 AS (SELECT doc_id, b, chunk FROM
               (SELECT doc_id, b, chunk,
                       COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM r2)
             WHERE bsz <= 50),
      c2 AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus
             FROM k2 f JOIN k2 c
               ON f.b = c.b AND f.chunk = c.chunk
                  AND f.doc_id % 3 = 2
                  AND (c.doc_id % 3 = 0
                       OR c.doc_id IN (SELECT doc_id FROM adm1))),
      v2 AS (SELECT id_new, id_corpus FROM
               (SELECT cd.id_new, cd.id_corpus,
                       CASE WHEN len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                            ELSE len(list_intersect(a.sh, b.sh))
                                 / (len(a.sh) + len(b.sh)
                                    - len(list_intersect(a.sh, b.sh))) END AS jac
                FROM c2 cd JOIN sh a ON a.doc_id = cd.id_new
                           JOIN sh b ON b.doc_id = cd.id_corpus)
             WHERE jac >= CAST(0.5 AS DOUBLE)),
      a2 AS (SELECT id_new, MIN(id_corpus) AS dup_of, COUNT(*) AS n_dups
             FROM v2 GROUP BY id_new),
      out1 AS (SELECT t.doc_id, CAST(1 AS BIGINT) AS batch,
                      a.dup_of IS NULL AS admitted, a.dup_of,
                      COALESCE(a.n_dups, 0) AS n_dups
               FROM (SELECT doc_id FROM toks WHERE doc_id % 3 = 1) t
               LEFT JOIN a1 a ON a.id_new = t.doc_id),
      out2 AS (SELECT t.doc_id, CAST(2 AS BIGINT) AS batch,
                      a.dup_of IS NULL AS admitted, a.dup_of,
                      COALESCE(a.n_dups, 0) AS n_dups
               FROM (SELECT doc_id FROM toks WHERE doc_id % 3 = 2) t
               LEFT JOIN a2 a ON a.id_new = t.doc_id)
      SELECT * FROM out1 UNION ALL SELECT * FROM out2
      ORDER BY doc_id"""),
      (s, dir) => {
        import graft.dedup.{BandedIndex, Dedup}
        val toks = tokenized(s, dir)
          .localCheckpoint() // splits, screens, and verification read it
        val seed = toks.where(col("doc_id") % 3 === 0)
        val stDir = ScratchDirs.fresh(dir, "q287").head
        BandedIndex.build(seed, "doc_id", "tokens", stDir)
        // one admission round: screen off the MAINTAINED state, verify
        // candidates exactly, refresh ONLY the survivors (delivered
        // twice under the round's id)
        def admit(batch: DataFrame, batchNo: Int): (DataFrame, DataFrame) = {
          val cand = BandedIndex.screen(batch, "doc_id", "tokens", stDir,
              maxBucketSize = 50)
            .localCheckpoint() // the id restriction AND the verify read it
          // candidate-bounded verification end to end (q89's semi-join
          // note): shingles only for docs a candidate pair names
          val needed = cand.select(col("id_new").as("doc_id"))
            .unionByName(cand.select(col("id_corpus").as("doc_id")))
            .distinct()
          val ver = Dedup.verifyJaccard(
              toks.join(broadcast(needed), Seq("doc_id"), "left_semi"),
              "doc_id", "tokens",
              cand.select(col("id_new").as("id_a"),
                col("id_corpus").as("id_b")))
            .where(col("jaccard") >= 0.5)
          val agg = ver.groupBy(col("id_a").as("doc_id"))
            .agg(min(col("id_b")).as("dup_of"), count(lit(1)).as("n_dups"))
          val verdicts = batch.select("doc_id")
            .join(agg, Seq("doc_id"), "left")
            .select(col("doc_id"), lit(batchNo.toLong).as("batch"),
              col("dup_of").isNull.as("admitted"), col("dup_of"),
              coalesce(col("n_dups"), lit(0L)).as("n_dups"))
            .localCheckpoint() // the admitted filter AND the output read it
          val admitted = batch.join(
            verdicts.where(col("admitted")).select("doc_id"), "doc_id")
            .localCheckpoint() // the refresh AND round 2's replay read it
          BandedIndex.refresh(admitted, "doc_id", "tokens", stDir,
            deltaId = s"b$batchNo")
          BandedIndex.refresh(admitted, "doc_id", "tokens", stDir,
            deltaId = s"b$batchNo") // replayed: no-op
          (verdicts, admitted)
        }
        val (v1, adm1) = admit(toks.where(col("doc_id") % 3 === 1), 1)
        BandedIndex.compact(s, stDir) // fold; the guard rides the sidecar
        // post-compact re-delivery of round 1's id: still a no-op
        BandedIndex.refresh(adm1, "doc_id", "tokens", stDir, deltaId = "b1")
        val (v2, _) = admit(toks.where(col("doc_id") % 3 === 2), 2)
        v1.unionByName(v2).orderBy("doc_id")
      }),

    // ---- q290: ADMISSION → SERVING UNDER ONE MANIFEST CUT — the
    // end-to-end loop the pieces exist for, composed and gated: q287
    // admits against the banded index, q284/q286 serve BM25 under
    // manifest cuts, but nothing gated the COMPOSITION — admitted
    // survivors flowing into the serving index under the SAME cut,
    // rejected docs never appearing in ANY serve read, and one erasure
    // verdict propagating through the admission state and the postings
    // ATOMICALLY (the old cut keeps serving the pre-erasure state).
    // Cycle: cut 1 = banded index + BM25 postings born together on the
    // seed third; batch (doc_id % 3 = 1) screens against the PINNED
    // banded state → bigram-Jaccard verification (cap 50, both sides)
    // → rejected near-dups never touch either artifact → the admitted
    // survivors refresh BOTH members under ONE delta id (each
    // delivered twice — replay no-ops), cut 2; the erasure verdict
    // (doc_id % 11 = 5 of the live corpus) deletes from BOTH members
    // under ONE id (each delivered twice — algebra-idempotent), cut 3.
    // The gate: BM25 top-10 served through cut 2 vs cut 3 — the old
    // cut still serves the erased docs, the new one must not, and
    // NO rejected doc can appear in either (it never entered the
    // postings). The oracle unrolls the whole loop in SQL (signatures
    // → bands → cap → cross-side block → verify → admit → BM25 over
    // seed ∪ admitted → erase → BM25 over the survivors), so a hash
    // mismatch is a torn cut, lost state, or a feedback error — never
    // approximation. Scale shape: the screen is partition-pruned and
    // candidate-bounded (q285's plan), each member refresh/delete is
    // delta-sized, both serves read pruned postings buckets only, and
    // the cut metadata is a few lines per commit.
    QueryDef("q290_admission_serving_cut", Some {
      def bmTop(clean: String, p: String): String = s"""
      len$p AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl
              FROM $clean WHERE len(tokens) >= 1),
      stats$p AS (SELECT COUNT(*) AS nd,
                         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                  FROM len$p),
      tf$p AS (SELECT c.doc_id, tok.token AS term, COUNT(*) AS tf
             FROM $clean c, unnest(c.tokens) AS tok(token)
             WHERE tok.token IN (SELECT term FROM qterms)
             GROUP BY 1, 2),
      df$p AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf$p GROUP BY term),
      sc$p AS (SELECT f.doc_id,
               ln(((SELECT nd FROM stats$p) - d.df + 0.5) / (d.df + 0.5) + 1)
               * (f.tf * 2.2)
               / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl
                                / (SELECT avgdl FROM stats$p))) AS s
             FROM tf$p f JOIN df$p d USING (term) JOIN len$p l USING (doc_id)),
      bm$p AS (SELECT doc_id, ROUND(SUM(s), 6) AS bm25
             FROM sc$p GROUP BY doc_id
             ORDER BY bm25 DESC, doc_id LIMIT 10)"""
      s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks WHERE doc_id % 3 IN (0, 1)),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      kept AS (SELECT doc_id, b, chunk FROM
                 (SELECT doc_id, b, chunk,
                         COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus
               FROM kept f JOIN kept c
                 ON f.b = c.b AND f.chunk = c.chunk
                    AND f.doc_id % 3 = 1 AND c.doc_id % 3 = 0),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks WHERE doc_id % 3 IN (0, 1)),
      rej AS (SELECT DISTINCT id_new AS doc_id FROM
                (SELECT cd.id_new,
                        CASE WHEN len(a.sh) + len(b.sh)
                                  - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                             ELSE len(list_intersect(a.sh, b.sh))
                                  / (len(a.sh) + len(b.sh)
                                     - len(list_intersect(a.sh, b.sh))) END AS jac
                 FROM cand cd JOIN sh a ON a.doc_id = cd.id_new
                              JOIN sh b ON b.doc_id = cd.id_corpus)
              WHERE jac >= CAST(0.5 AS DOUBLE)),
      clean1 AS (SELECT doc_id, tokens FROM toks
                 WHERE doc_id % 3 = 0
                    OR (doc_id % 3 = 1
                        AND doc_id NOT IN (SELECT doc_id FROM rej))),
      clean2 AS (SELECT doc_id, tokens FROM clean1
                 WHERE doc_id % 11 <> 5),
      qterms AS (SELECT unnest(['hash', 'filter', 'batch']) AS term),${bmTop("clean1", "1")},${bmTop("clean2", "2")}
      SELECT COALESCE(o.doc_id, nn.doc_id) AS doc_id,
             o.bm25 AS bm25_old_cut, nn.bm25 AS bm25_new_cut,
             (o.doc_id IS NOT NULL AND nn.doc_id IS NULL)
               AS dropped_by_erasure,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM toks
              WHERE doc_id % 3 = 1
                AND doc_id NOT IN (SELECT doc_id FROM rej)) AS n_admitted,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rej) AS n_rejected,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM clean1
              WHERE doc_id % 11 = 5) AS n_erased,
             (SELECT CAST(nd AS BIGINT) FROM stats1) AS nd_old,
             (SELECT CAST(nd AS BIGINT) FROM stats2) AS nd_new
      FROM bm1 o FULL OUTER JOIN bm2 nn ON o.doc_id = nn.doc_id
      ORDER BY doc_id"""
    },
      (s, dir) => {
        import graft.dedup.{BandedIndex, Dedup}
        import graft.operators.StateManifest
        import graft.text.Bm25State
        val terms = Seq("hash", "filter", "batch")
        val toks = tokenized(s, dir).localCheckpoint() // splits + verify
        val seed = toks.where(col("doc_id") % 3 === 0)
        val batch = toks.where(col("doc_id") % 3 === 1)
        val Seq(biDir, bmDir, mDir) = ScratchDirs.fresh(dir, "q290bi", "q290bm", "q290mf")
        // cut 1: admission state + serving index born together — two
        // independent single-writer dirs, so the builds overlap from a
        // driver pool (guide §2.6); commits/payloads unchanged
        val (biV1, bmV1) = graft.operators.Par.both(
          () => BandedIndex.build(seed, "doc_id", "tokens", biDir),
          () => Bm25State.build(seed, "doc_id", "tokens", bmDir))
        StateManifest.commit(s, mDir,
          Map("bi" -> (biDir, biV1), "bm" -> (bmDir, bmV1)))
        val cut1 = StateManifest.resolve(s, mDir).get
        // admission: screen against the PINNED banded state, verify
        // candidates exactly (cap 50 both sides, the q285 dial)
        val cand = BandedIndex.screen(batch, "doc_id", "tokens", biDir,
            maxBucketSize = 50, asOf = Some(cut1("bi")._2))
          .localCheckpoint() // the id restriction AND the verify read it
        val needed = cand.select(col("id_new").as("doc_id"))
          .unionByName(cand.select(col("id_corpus").as("doc_id")))
          .distinct()
        val rejected = Dedup.verifyJaccard(
            toks.join(broadcast(needed), Seq("doc_id"), "left_semi"),
            "doc_id", "tokens",
            cand.select(col("id_new").as("id_a"),
              col("id_corpus").as("id_b")))
          .where(col("jaccard") >= 0.5)
          .select(col("id_a").as("doc_id")).distinct()
          .localCheckpoint() // the admit filter AND the meta count read it
        val admitted = batch
          .join(rejected, Seq("doc_id"), "left_anti")
          .localCheckpoint() // both refreshes + the meta count read it
        // the admitted survivors flow into BOTH members under ONE
        // delta id, each delivered twice (replay no-ops; the replay
        // guard sits ahead of requireNewDocs, so the re-delivery of
        // docs the first call made live is still a no-op). The serving
        // path enforces the whole-doc contract UP FRONT: a split
        // arrival is rejected here, not discovered by the drift gate
        // per-family double-delivery chains overlapped across the two
        // dirs (ordered within each — the replay guard reads delivery 1)
        val (biV2, bmV2) = graft.operators.Par.both(
          () => {
            BandedIndex.refresh(admitted, "doc_id", "tokens", biDir, "b1")
            BandedIndex.refresh(admitted, "doc_id", "tokens", biDir, "b1")
          },
          () => {
            Bm25State.refresh(admitted, "doc_id", "tokens", bmDir, "b1",
              requireNewDocs = true)
            Bm25State.refresh(admitted, "doc_id", "tokens", bmDir, "b1",
              requireNewDocs = true)
          })
        StateManifest.commit(s, mDir,
          Map("bi" -> (biDir, biV2), "bm" -> (bmDir, bmV2))) // cut 2
        // ONE erasure verdict propagates through BOTH members under
        // ONE id, each delivered twice (algebra-idempotent)
        val erased = seed.unionByName(admitted)
          .where(col("doc_id") % 11 === 5).select("doc_id")
          .localCheckpoint() // both deletes + the meta count read it
        val (biV3, bmV3) = graft.operators.Par.both(
          () => {
            BandedIndex.delete(erased, "doc_id", biDir, "e1")
            BandedIndex.delete(erased, "doc_id", biDir, "e1")
          },
          () => {
            Bm25State.delete(erased, "doc_id", bmDir, "e1")
            Bm25State.delete(erased, "doc_id", bmDir, "e1")
          })
        StateManifest.commit(s, mDir,
          Map("bi" -> (biDir, biV3), "bm" -> (bmDir, bmV3))) // cut 3
        // serve through BOTH cuts: pinned asOf reads, pruned postings
        // buckets only — the old cut still serves the erased docs
        val cut2 = StateManifest.readCut(s, mDir, 2L)
        val cut3 = StateManifest.readCut(s, mDir, 3L)
        val old = Bm25State.topK(s, bmDir, terms, 10,
            asOf = Some(cut2("bm")._2))
          .select(col("doc").as("doc_id"), col("bm25").as("bm25_old_cut"))
        val neu = Bm25State.topK(s, bmDir, terms, 10,
            asOf = Some(cut3("bm")._2))
          .select(col("doc").as("doc_id"), col("bm25").as("bm25_new_cut"))
        // the loop's verdicts must be VISIBLE even when no erased doc
        // cracks the top-10: admission/rejection/erasure counts and the
        // per-cut corpus sizes (one-row broadcasts)
        val meta = admitted.agg(count(lit(1)).as("n_admitted"))
          .crossJoin(rejected.agg(count(lit(1)).as("n_rejected")))
          .crossJoin(erased.agg(count(lit(1)).as("n_erased")))
          .crossJoin(Bm25State.stats(s, bmDir, asOf = Some(cut2("bm")._2))
            .select(col("nd").as("nd_old")))
          .crossJoin(Bm25State.stats(s, bmDir, asOf = Some(cut3("bm")._2))
            .select(col("nd").as("nd_new")))
        old.join(neu, Seq("doc_id"), "full_outer")
          .crossJoin(broadcast(meta))
          .select(col("doc_id"), col("bm25_old_cut"), col("bm25_new_cut"),
            (col("bm25_old_cut").isNotNull && col("bm25_new_cut").isNull)
              .as("dropped_by_erasure"),
            col("n_admitted"), col("n_rejected"), col("n_erased"),
            col("nd_old"), col("nd_new"))
          .orderBy("doc_id")
      }),

    // ---- q291: VERSIONED QUALITY-FILTER MODEL — the last one-shot
    // trained artifact in the admission path gets the family
    // lifecycle: q283 proves the softsign-link filter trains
    // bit-reproducibly but re-trains per run, so the model that would
    // gate admission had no stored form, no pinning, no staleness
    // gate. graft.text.QualityModel commits a fit's coefficients as
    // VersionedState (one tiny parquet row per version; `model:<id>`
    // replay-guards the trainer — a crashed-and-retried fit is a
    // no-op, NOT a silent re-train to different floats on a drifted
    // corpus). Cycle: fit on the train split (delivered twice under
    // one id), then a DRIFTED refit under a new id moves the head —
    // and the admission batch is scored off the coefficients PINNED at
    // the first version (asOf — a manifest-cut member like any index),
    // so the output is identical to a fresh train at that cut,
    // hash-exact: every link op is IEEE-exact and the gradient sums as
    // nano-longs, which is what turns "stored ≡ freshly-trained" into
    // a hash gate instead of a tolerance check. maintain()'s fit gate
    // scores the batch as a held-out set: accuracy under the dial ⇒
    // BuildNeeded, never silent (emitted as fit_ok, which the oracle
    // re-derives from its own accuracy). Scale shape: training is one
    // checkpointed feature pass + one partial-agg scan per GD
    // iteration (weights ride the driver); scoring the batch is
    // map-side only — the pinned coefficients are literals, adding
    // ZERO shuffles to an admission plan.
    QueryDef("q291_quality_model_pinned", Some(s"""${toksCte()},
      feat AS (SELECT t.doc_id,
          CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) - 0.5 AS x1,
          CAST(list_aggregate(list_transform(tokens, t -> len(t)), 'sum')
            AS DOUBLE) / len(tokens) - 4.5 AS x2,
          CAST(len(tokens) AS DOUBLE) / (50 + len(tokens)) - 0.5 AS x3,
          CASE WHEN d.n_chars > 300 THEN 1.0 ELSE 0.0 END AS y
        FROM toks t JOIN documents d ON t.doc_id = d.doc_id
        WHERE len(tokens) >= 1),
      tr AS (SELECT * FROM feat WHERE doc_id % 19 <> 7),
      nn AS (SELECT COUNT(*) AS n FROM tr),
      wt0 AS (SELECT 0.0 AS wb, 0.0 AS w1c, 0.0 AS w2c, 0.0 AS w3c)${(1 to 8).map(k => s""",
      s$k AS (SELECT f.*, w.wb + w.w1c * f.x1 + w.w2c * f.x2 + w.w3c * f.x3 AS s
             FROM tr f, wt${k - 1} w),
      e$k AS (SELECT *, (0.5 + 0.5 * s / (1 + abs(s)) - y)
                       * (0.5 / ((1 + abs(s)) * (1 + abs(s)))) AS e FROM s$k),
      g$k AS (SELECT SUM(CAST(ROUND(e * 1e9) AS BIGINT)) AS gb,
                    SUM(CAST(ROUND(e * x1 * 1e9) AS BIGINT)) AS gx1,
                    SUM(CAST(ROUND(e * x2 * 1e9) AS BIGINT)) AS gx2,
                    SUM(CAST(ROUND(e * x3 * 1e9) AS BIGINT)) AS gx3 FROM e$k),
      wt$k AS (SELECT w.wb - 4.0 * (CAST(g.gb AS DOUBLE) / 1e9 / nn.n) AS wb,
                     w.w1c - 4.0 * (CAST(g.gx1 AS DOUBLE) / 1e9 / nn.n) AS w1c,
                     w.w2c - 4.0 * (CAST(g.gx2 AS DOUBLE) / 1e9 / nn.n) AS w2c,
                     w.w3c - 4.0 * (CAST(g.gx3 AS DOUBLE) / 1e9 / nn.n) AS w3c
              FROM wt${k - 1} w, g$k g, nn)""").mkString},
      trs AS (SELECT f.y, w.wb + w.w1c * f.x1 + w.w2c * f.x2 + w.w3c * f.x3 AS s
              FROM tr f, wt8 w),
      fin AS (SELECT COUNT(*) AS n,
                     SUM(CASE WHEN ((0.5 + 0.5 * s / (1 + abs(s))) > 0.5)
                                   = (y > 0.5)
                         THEN 1 ELSE 0 END) AS correct FROM trs),
      bp AS (SELECT f.doc_id, f.y,
                    0.5 + 0.5 * (w.wb + w.w1c * f.x1 + w.w2c * f.x2
                                 + w.w3c * f.x3)
                        / (1 + abs(w.wb + w.w1c * f.x1 + w.w2c * f.x2
                                   + w.w3c * f.x3)) AS p
             FROM feat f, wt8 w WHERE f.doc_id % 19 = 7),
      bacc AS (SELECT COUNT(*) AS nb,
                      SUM(CASE WHEN (p > 0.5) = (y > 0.5)
                          THEN 1 ELSE 0 END) AS cb FROM bp)
      SELECT bp.doc_id, ROUND(bp.p, 9) AS score, bp.p > 0.5 AS admitted,
             ROUND(w.wb, 9) AS w_bias, ROUND(w.w1c, 9) AS w_ttr,
             ROUND(w.w2c, 9) AS w_len, ROUND(w.w3c, 9) AS w_sat,
             (SELECT CAST(n AS BIGINT) FROM nn) AS n_train,
             ROUND(CAST(fin.correct AS DOUBLE) / fin.n, 6) AS acc_train,
             ROUND(CAST(bacc.cb AS DOUBLE) / bacc.nb, 6) AS acc_batch,
             CAST(bacc.cb AS DOUBLE) / bacc.nb >= 0.75 AS fit_ok
      FROM bp, wt8 w, fin, bacc
      ORDER BY bp.doc_id"""),
      (s, dir) => {
        import graft.text.QualityModel
        val feat = QualityModel.features(tokenized(s, dir), "doc_id",
            "tokens", docs(s, dir), "n_chars")
          .localCheckpoint() // splits read it
        val featTr = feat.where(col("doc_id") % 19 =!= 7)
          .localCheckpoint() // 8 GD scans + the acc scan read it
        val featB = feat.where(col("doc_id") % 19 === 7)
          .localCheckpoint() // score, batch-acc and the fit gate read it
        val stDir = ScratchDirs.fresh(dir, "q291").head
        // the trainer run, delivered twice under one id: the replay
        // returns the committed version without re-training
        val v1 = QualityModel.fit(featTr, stDir, "m1")
        require(QualityModel.fit(featTr, stDir, "m1") == v1,
          "a replayed trainer id must be a no-op")
        // the head MOVES: a drifted refit under a new id — the pinned
        // reads below must not see it
        QualityModel.fit(featTr.where(col("doc_id") % 2 === 0), stDir, "m2")
        // score the admission batch off the PINNED coefficients
        val w = QualityModel.weights(s, stDir, asOf = Some(v1))
        val report = QualityModel.maintain(featB, stDir,
          minAccuracy = 0.75, asOf = Some(v1))
        // the number the gate MEASURED rides the report — the exact
        // accuracy the verdict was based on, no second scoring pass.
        // An SF where the % 19 = 7 batch split is EMPTY measures
        // nothing; consistently with maintain()'s empty-holdout Ok
        // verdict the meta column goes absent (null) instead of
        // throwing — the per-doc output is empty then anyway (it is
        // keyed on the same split)
        val accB = report.measured.get("acc")
        val meta = QualityModel.model(s, stDir, asOf = Some(v1)).get
          .select(round(col("w0"), 9).as("w_bias"),
            round(col("w1"), 9).as("w_ttr"),
            round(col("w2"), 9).as("w_len"),
            round(col("w3"), 9).as("w_sat"),
            col("n_train"), round(col("acc_train"), 6).as("acc_train"))
          .withColumn("acc_batch",
            accB.fold(lit(null).cast("double"))(a => round(lit(a), 6)))
        QualityModel.score(featB, "doc_id", w.toSeq)
          .select(col("doc_id"), round(col("score"), 9).as("score"),
            (col("score") > 0.5).as("admitted"))
          .crossJoin(broadcast(meta))
          .withColumn("fit_ok", lit(report.healthy))
          .orderBy("doc_id")
      }),

    // ---- q292: CLUSTER LABELS IN THE ADMISSION LOOP — the labels
    // family (q276/q277) wired into q287's loop so the label table is
    // always consistent with the admission history: each round's
    // verification now yields a TWO-THRESHOLD verdict (bigram Jaccard
    // ≥ 0.8 = hard duplicate, REJECTED, never enters any state;
    // 0.5 ≤ j < 0.8 = admitted near-dup, and the verified pair becomes
    // a ClusterState EDGE), so admitted survivors + their edges flow
    // into ClusterState.refresh under the SAME delta id that refreshes
    // the banded admission index. An erasure verdict BETWEEN the
    // rounds deletes from BOTH states (delivered twice each): round 2
    // then screens against the post-erasure corpus (an erased doc no
    // longer blocks) and the label table splits the erased docs'
    // clusters. The gate: the final maintained labels ≡ a from-scratch
    // converged CC over EXACTLY the final live corpus with exactly the
    // edges admission created (seed-internal pairs + each round's
    // admitted cross-side pairs, erased endpoints gone) — the oracle
    // unrolls seed pairing, both admission rounds, the erasure and the
    // CC fixpoint in SQL, so a mismatch is lost state or a feedback
    // error, never approximation. Scale shape: per round one map-side
    // signature pass + pruned probe + candidate-bounded verify +
    // delta-sized refreshes of BOTH states; ClusterState writes are
    // delta/cluster-bounded (never corpus-sized); the loop never
    // re-pairs history with itself.
    QueryDef("q292_admission_cluster_loop", Some(s"""${toksCte()},
      sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM sig")
          .mkString(" UNION ALL\n               ")}),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tokens)),
                             i -> tokens[i] || ' ' || tokens[i+1])) AS sh
             FROM toks),
      -- seed round: the pre-existing corpus's own verified pairs
      k0 AS (SELECT doc_id, b, chunk FROM
               (SELECT doc_id, b, chunk,
                       COUNT(*) OVER (PARTITION BY b, chunk) AS bsz
                FROM band WHERE doc_id % 3 = 0)
             WHERE bsz <= 50),
      c0 AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
             FROM k0 a JOIN k0 b2
               ON a.b = b2.b AND a.chunk = b2.chunk
                  AND a.doc_id < b2.doc_id),
      e0 AS (SELECT id_a, id_b FROM
               (SELECT cd.id_a, cd.id_b,
                       CASE WHEN len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                            ELSE len(list_intersect(a.sh, b.sh))
                                 / (len(a.sh) + len(b.sh)
                                    - len(list_intersect(a.sh, b.sh))) END AS jac
                FROM c0 cd JOIN sh a ON a.doc_id = cd.id_a
                           JOIN sh b ON b.doc_id = cd.id_b)
             WHERE jac >= CAST(0.5 AS DOUBLE)),
      -- round 1: batch %3=1 vs the seed
      k1 AS (SELECT doc_id, b, chunk FROM
               (SELECT doc_id, b, chunk,
                       COUNT(*) OVER (PARTITION BY b, chunk) AS bsz
                FROM band WHERE doc_id % 3 IN (0, 1))
             WHERE bsz <= 50),
      c1 AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus
             FROM k1 f JOIN k1 c
               ON f.b = c.b AND f.chunk = c.chunk
                  AND f.doc_id % 3 = 1 AND c.doc_id % 3 = 0),
      v1 AS (SELECT id_new, id_corpus, jac FROM
               (SELECT cd.id_new, cd.id_corpus,
                       CASE WHEN len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                            ELSE len(list_intersect(a.sh, b.sh))
                                 / (len(a.sh) + len(b.sh)
                                    - len(list_intersect(a.sh, b.sh))) END AS jac
                FROM c1 cd JOIN sh a ON a.doc_id = cd.id_new
                           JOIN sh b ON b.doc_id = cd.id_corpus)
             WHERE jac >= CAST(0.5 AS DOUBLE)),
      rej1 AS (SELECT DISTINCT id_new AS doc_id FROM v1
               WHERE jac >= CAST(0.8 AS DOUBLE)),
      adm1 AS (SELECT doc_id FROM toks WHERE doc_id % 3 = 1
               AND doc_id NOT IN (SELECT doc_id FROM rej1)),
      edg1 AS (SELECT id_new AS id_a, id_corpus AS id_b FROM v1
               WHERE jac < CAST(0.8 AS DOUBLE)
                 AND id_new IN (SELECT doc_id FROM adm1)),
      -- the erasure verdict between the rounds
      live1 AS (SELECT doc_id FROM toks WHERE doc_id % 3 = 0
                UNION ALL SELECT doc_id FROM adm1),
      erased AS (SELECT doc_id FROM live1 WHERE doc_id % 13 = 6),
      live1s AS (SELECT doc_id FROM live1 WHERE doc_id % 13 <> 6),
      -- round 2: batch %3=2 vs the POST-ERASURE corpus
      k2 AS (SELECT doc_id, b, chunk FROM
               (SELECT doc_id, b, chunk,
                       COUNT(*) OVER (PARTITION BY b, chunk) AS bsz
                FROM band WHERE doc_id % 3 = 2
                   OR doc_id IN (SELECT doc_id FROM live1s))
             WHERE bsz <= 50),
      c2 AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus
             FROM k2 f JOIN k2 c
               ON f.b = c.b AND f.chunk = c.chunk
                  AND f.doc_id % 3 = 2
                  AND c.doc_id IN (SELECT doc_id FROM live1s)),
      v2 AS (SELECT id_new, id_corpus, jac FROM
               (SELECT cd.id_new, cd.id_corpus,
                       CASE WHEN len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                            ELSE len(list_intersect(a.sh, b.sh))
                                 / (len(a.sh) + len(b.sh)
                                    - len(list_intersect(a.sh, b.sh))) END AS jac
                FROM c2 cd JOIN sh a ON a.doc_id = cd.id_new
                           JOIN sh b ON b.doc_id = cd.id_corpus)
             WHERE jac >= CAST(0.5 AS DOUBLE)),
      rej2 AS (SELECT DISTINCT id_new AS doc_id FROM v2
               WHERE jac >= CAST(0.8 AS DOUBLE)),
      adm2 AS (SELECT doc_id FROM toks WHERE doc_id % 3 = 2
               AND doc_id NOT IN (SELECT doc_id FROM rej2)),
      edg2 AS (SELECT id_new AS id_a, id_corpus AS id_b FROM v2
               WHERE jac < CAST(0.8 AS DOUBLE)
                 AND id_new IN (SELECT doc_id FROM adm2)),
      -- the final live corpus and its admission-created edge relation
      nodes AS (SELECT doc_id FROM live1s
                UNION ALL SELECT doc_id FROM adm2),
      alle AS (SELECT id_a, id_b FROM e0
               UNION SELECT id_a, id_b FROM edg1
               UNION SELECT id_a, id_b FROM edg2),
      keptE AS (SELECT id_a, id_b FROM alle
                WHERE id_a IN (SELECT doc_id FROM nodes)
                  AND id_b IN (SELECT doc_id FROM nodes)),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM keptE
                UNION ALL SELECT id_b, id_a FROM keptE),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM nodes),
      ${graft.QueryDef.ccFixpointCtes()}
      SELECT f.id AS doc_id, f.label AS cluster_id, f.id = f.label AS keep,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM adm1) AS n_admitted_1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rej1) AS n_rejected_1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM adm2) AS n_admitted_2,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rej2) AS n_rejected_2,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM erased) AS n_erased
      FROM ${graft.QueryDef.ccFinal()} f
      ORDER BY doc_id"""),
      (s, dir) => {
        import graft.dedup.{BandedIndex, ClusterState, Dedup}
        val toks = tokenized(s, dir)
          .localCheckpoint() // splits, screens, and verification read it
        val seed = toks.where(col("doc_id") % 3 === 0)
        val Seq(biDir, csDir) = ScratchDirs.fresh(dir, "q292bi", "q292cs")
        // the seed's own verified pairs — the one-time build cost
        val seedCand = Dedup.lshBandedCandidatePairs(seed, "doc_id",
          "tokens", 4, 2, maxBucketSize = 50)
        val seedNeeded = seedCand.select(col("id_a").as("doc_id"))
          .unionByName(seedCand.select(col("id_b").as("doc_id"))).distinct()
        val seedEdges = Dedup.verifyJaccard(
            seed.join(broadcast(seedNeeded), Seq("doc_id"), "left_semi"),
            "doc_id", "tokens", seedCand)
          .where(col("jaccard") >= 0.5).select("id_a", "id_b")
          .localCheckpoint() // the build reads it
        // two independent single-writer dirs: the builds overlap from a
        // driver pool (guide §2.6); commits and payloads unchanged
        graft.operators.Par.both(
          () => BandedIndex.build(seed, "doc_id", "tokens", biDir),
          () => ClusterState.build(seed.select("doc_id"), "doc_id",
            seedEdges, csDir))
        // one admission round: screen off the maintained banded state,
        // verify with the TWO-THRESHOLD verdict, feed BOTH states under
        // one id (each delivered twice)
        def admit(batch: DataFrame, deltaId: String): DataFrame = {
          val cand = BandedIndex.screen(batch, "doc_id", "tokens", biDir,
              maxBucketSize = 50)
            .localCheckpoint() // the id restriction AND the verify read it
          val needed = cand.select(col("id_new").as("doc_id"))
            .unionByName(cand.select(col("id_corpus").as("doc_id")))
            .distinct()
          val ver = Dedup.verifyJaccard(
              toks.join(broadcast(needed), Seq("doc_id"), "left_semi"),
              "doc_id", "tokens",
              cand.select(col("id_new").as("id_a"),
                col("id_corpus").as("id_b")))
            .where(col("jaccard") >= 0.5)
            .localCheckpoint() // the reject filter AND the edges read it
          val hard = ver.where(col("jaccard") >= 0.8)
            .select(col("id_a").as("doc_id")).distinct()
          val admitted = batch.join(hard, Seq("doc_id"), "left_anti")
            .localCheckpoint() // both refreshes read it
          // an admitted survivor's verified near-dup pairs are the
          // label family's edges (a rejected doc never contributes)
          val edges = ver.where(col("jaccard") < 0.8)
            .join(admitted.select(col("doc_id").as("id_a")), "id_a")
            .select("id_a", "id_b")
          // both families' double-delivery chains overlap across the
          // two dirs (ordered within each — replay guard reads
          // delivery 1); commits and payloads unchanged (§2.6)
          graft.operators.Par.both(
            () => {
              BandedIndex.refresh(admitted, "doc_id", "tokens", biDir, deltaId)
              BandedIndex.refresh(admitted, "doc_id", "tokens", biDir, deltaId) // replayed: no-op
            },
            () => {
              ClusterState.refresh(admitted.select("doc_id"), "doc_id",
                edges, csDir, deltaId)
              ClusterState.refresh(admitted.select("doc_id"), "doc_id",
                edges, csDir, deltaId) // replayed: no-op
            })
          admitted
        }
        val adm1 = admit(toks.where(col("doc_id") % 3 === 1), "b1")
        // ONE erasure verdict between the rounds, propagated through
        // BOTH states (delivered twice each — algebra/protocol no-ops)
        val erased = seed.select("doc_id")
          .unionByName(adm1.select("doc_id"))
          .where(col("doc_id") % 13 === 6)
          .localCheckpoint() // both deletes read it
        graft.operators.Par.both(
          () => {
            BandedIndex.delete(erased, "doc_id", biDir, "e1")
            BandedIndex.delete(erased, "doc_id", biDir, "e1")
          },
          () => {
            ClusterState.delete(erased, csDir, "e1")
            ClusterState.delete(erased, csDir, "e1")
          })
        // round 2 screens against the POST-ERASURE corpus
        val adm2 = admit(toks.where(col("doc_id") % 3 === 2), "b2")
        // the gate output: the maintained labels over exactly the
        // admission history, plus the loop's verdict counts (one-row
        // broadcasts, visible even where clustering is trivial)
        val batch1 = toks.where(col("doc_id") % 3 === 1)
        val batch2 = toks.where(col("doc_id") % 3 === 2)
        val meta = adm1.agg(count(lit(1)).as("n_admitted_1"))
          .crossJoin(batch1
            .join(adm1.select("doc_id"), Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("n_rejected_1")))
          .crossJoin(adm2.agg(count(lit(1)).as("n_admitted_2")))
          .crossJoin(batch2
            .join(adm2.select("doc_id"), Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("n_rejected_2")))
          .crossJoin(erased.agg(count(lit(1)).as("n_erased")))
        ClusterState.labels(s, csDir).get
          .select(col("id").as("doc_id"), col("label").as("cluster_id"),
            (col("id") === col("label")).as("keep"))
          .crossJoin(broadcast(meta))
          .orderBy("doc_id")
      }),

    // ---- q293: VERSIONED BPE TOKENIZER — the last one-shot trained
    // artifact gets the pinned-model lifecycle (the q291 blueprint):
    // q136/q145 train the merge table per run, but a pipeline's
    // tokenizer must be PINNED — every batch encoded under the SAME
    // merges, a retrain an explicit versioned event, vocabulary drift
    // a gated verdict. graft.text.BpeState commits a fit's merge table
    // + serving vocabulary (final-rep symbols ∪ merge products) as
    // VersionedState; `model:<id>` replay-guards the trainer (a
    // crashed-and-retried fit is a no-op, never a silent re-train on a
    // drifted corpus). Cycle: fit 3 merges on the train-split word
    // counts (delivered twice under one id), a DRIFTED refit under a
    // new id moves the head — and the fresh batch is encoded off the
    // merges PINNED at the first version (asOf), so the segmentation
    // is identical to a fresh train at that cut, hash-exact (BPE
    // training is deterministic: count desc + pair-lexicographic
    // tie-break, exact integer counts throughout). maintain()'s fit
    // gate turns drift into a verdict: weighted OOV rate above /
    // chars-per-symbol compression below the dial ⇒ BuildNeeded
    // (emitted as fit_ok; the oracle re-derives both ratios from its
    // own unrolled train + encode). Scale shape: training touches the
    // corpus once (the word table is vocabulary-sized); encoding is
    // map-side only — the pinned merges ride as a literal-replace
    // chain, zero joins; the OOV probe broadcasts the bounded vocab.
    QueryDef("q293_bpe_tokenizer_pinned", Some(s"""${toksCte()},
      wcT AS (SELECT t AS word, COUNT(*) AS cnt
              FROM (SELECT doc_id, UNNEST(tokens) AS t FROM toks)
              WHERE doc_id % 19 <> 7 GROUP BY 1),
      r0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '</w> ' AS s, cnt
             FROM wcT),
      e1 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r0)),
      p1 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e1 GROUP BY 1, 2),
      m1 AS (SELECT a, b FROM p1 ORDER BY c DESC, a, b LIMIT 1),
      r1 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM r0, m1 m),
      e2 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r1)),
      p2 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e2 GROUP BY 1, 2),
      m2 AS (SELECT a, b FROM p2 ORDER BY c DESC, a, b LIMIT 1),
      r2 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM r1, m2 m),
      e3 AS (SELECT UNNEST(list_transform(range(1, len(ss)),
                      i -> {'a': ss[i], 'b': ss[i+1]})) AS p, cnt
             FROM (SELECT string_split(trim(s), '  ') AS ss, cnt FROM r2)),
      p3 AS (SELECT p.a AS a, p.b AS b, SUM(cnt) AS c FROM e3 GROUP BY 1, 2),
      m3 AS (SELECT a, b FROM p3 ORDER BY c DESC, a, b LIMIT 1),
      r3 AS (SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM r2, m3 m),
      voc AS (SELECT DISTINCT sym FROM (
                SELECT UNNEST(string_split(trim(s), '  ')) AS sym FROM r3
                UNION ALL SELECT a || b FROM m1
                UNION ALL SELECT a || b FROM m2
                UNION ALL SELECT a || b FROM m3)),
      vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM voc),
      wcH AS (SELECT t AS word, COUNT(*) AS cnt
              FROM (SELECT doc_id, UNNEST(tokens) AS t FROM toks)
              WHERE doc_id % 19 = 7 GROUP BY 1),
      h0 AS (SELECT word, ' ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '</w> ' AS s, cnt
             FROM wcH),
      h1 AS (SELECT word, replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM h0, m1 m),
      h2 AS (SELECT word, replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM h1, m2 m),
      h3 AS (SELECT word, replace(s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' ') AS s, cnt FROM h2, m3 m),
      sy AS (SELECT word, UNNEST(string_split(trim(s), '  ')) AS sym, cnt FROM h3),
      met AS (SELECT SUM(cnt) AS n_syms,
                     SUM(CASE WHEN sym NOT IN (SELECT sym FROM voc)
                         THEN cnt ELSE 0 END) AS n_oov FROM sy),
      chr AS (SELECT SUM(cnt * (len(word) + 1)) AS n_chars FROM wcH),
      mm AS (SELECT CAST(met.n_oov AS DOUBLE) / met.n_syms AS oov,
                    CAST(chr.n_chars AS DOUBLE) / met.n_syms AS comp
             FROM met, chr),
      top AS (SELECT sy.sym, CAST(SUM(cnt) AS BIGINT) AS n,
                     sy.sym IN (SELECT sym FROM voc) AS known
              FROM sy GROUP BY sy.sym ORDER BY n DESC, sy.sym LIMIT 20)
      SELECT t.sym, t.n, t.known,
             ROUND(mm.oov, 9) AS oov_rate,
             ROUND(mm.comp, 9) AS compression_ratio,
             CAST(3 AS BIGINT) AS n_merges, vs.vocab_size,
             mm.oov <= 0.05 AND mm.comp >= 1.0 AS fit_ok
      FROM top t, mm, vs
      ORDER BY t.n DESC, t.sym"""),
      (s, dir) => {
        import graft.text.BpeState
        val toks = tokenized(s, dir).localCheckpoint() // train + fresh read it
        def wcOf(pred: org.apache.spark.sql.Column) = toks.where(pred)
          .select(explode(col("tokens")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
        val wcT = wcOf(col("doc_id") % 19 =!= 7)
          .localCheckpoint() // two fit deliveries read it
        val wcH = wcOf(col("doc_id") % 19 === 7)
          .localCheckpoint() // encode, metrics and the fit gate read it
        val stDir = ScratchDirs.fresh(dir, "q293").head
        // the trainer run, delivered twice under one id: the replay
        // returns the committed version without re-training
        val v1 = BpeState.fit(wcT, "word", "cnt", merges = 3, stDir, "t1")
        require(BpeState.fit(wcT, "word", "cnt", merges = 3, stDir, "t1") == v1,
          "a replayed trainer id must be a no-op")
        // the head MOVES: a drifted refit under a new id — the pinned
        // reads below must not see it
        BpeState.fit(wcOf(col("doc_id") % 19 =!= 7 && col("doc_id") % 2 === 0),
          "word", "cnt", merges = 3, stDir, "t2")
        // encode the fresh batch off the PINNED merges; gate drift —
        // the ratios the gate measured ride the report, no second
        // metrics pass over the batch
        val report = BpeState.maintain(wcH, "word", "cnt", stDir,
          maxOovRate = 0.05, minCompression = 1.0, asOf = Some(v1))
        def measuredCol(key: String) = report.measured.get(key)
          .fold(lit(null).cast("double"))(a => round(lit(a), 9))
        val voc = BpeState.vocab(s, stDir, asOf = Some(v1)).get
          .localCheckpoint() // the known flag AND the size read it
        val meta = voc.agg(count(lit(1)).as("vocab_size"))
          .withColumn("oov_rate", measuredCol("oov_rate"))
          .withColumn("compression_ratio", measuredCol("compression_ratio"))
          .withColumn("n_merges", lit(3L))
          .withColumn("fit_ok", lit(report.healthy))
        BpeState.encode(wcH, "word", stDir, asOf = Some(v1))
          .select(explode(col("syms")).as("sym"), col("cnt"))
          .groupBy("sym").agg(sum("cnt").as("n"))
          .join(broadcast(voc.withColumn("k", lit(true))), Seq("sym"), "left")
          .select(col("sym"), col("n"), coalesce(col("k"), lit(false)).as("known"))
          .orderBy(col("n").desc, col("sym")).limit(20)
          .crossJoin(broadcast(meta))
          .select(col("sym"), col("n"), col("known"), col("oov_rate"),
            col("compression_ratio"), col("n_merges"), col("vocab_size"),
            col("fit_ok"))
          .orderBy(col("n").desc, col("sym"))
      }),

    // ---- q296: VERSIONED NAIVE-BAYES CLASSIFIER — the q291 pinned-
    // model discipline applied to the second trained classifier:
    // q106/q141 retrain the four NB tables per run; graft.text.NbState
    // commits a fit's (label, token) counts / totals / vocab / priors
    // as one VersionedState version (`model:<id>` replay-guards the
    // trainer; the delivered sidecar makes the guard gc-proof). Cycle:
    // fit language-ID on the train split (delivered twice under one
    // id), a DRIFTED refit under a new id moves the head — and the
    // admission batch is classified off the version PINNED at the
    // first fit (asOf), so predictions are identical to a fresh train
    // at that cut, hash-exact: every per-token log-probability is one
    // exact IEEE division + ln, scores round to 6 decimals before the
    // deterministic (max score, min label) argmax. maintain()'s fit
    // gate scores the batch as a labeled holdout: accuracy under the
    // dial ⇒ BuildNeeded, never silent (emitted as fit_ok, which the
    // oracle re-derives from its own accuracy). Scale shape: training
    // is one explode + two hash aggs; the stored artifact is
    // model-sized; batch scoring joins (label, token) once with every
    // small table broadcast.
    QueryDef("q296_nb_model_pinned", Some(s"""${toksCte()},
      tr AS (SELECT t.doc_id, d.lang, t.tokens
             FROM toks t JOIN documents d USING (doc_id)
             WHERE t.doc_id % 19 <> 7),
      te AS (SELECT doc_id, tokens FROM toks WHERE doc_id % 19 = 7),
      trtok AS (SELECT lang, unnest(tokens) AS token FROM tr),
      clt AS (SELECT lang, token, COUNT(*) AS c FROM trtok GROUP BY 1, 2),
      totl AS (SELECT lang, SUM(c) AS tot FROM clt GROUP BY lang),
      vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM trtok),
      prior AS (SELECT lang, COUNT(*) AS nd FROM tr GROUP BY lang),
      ntr AS (SELECT COUNT(*) AS n FROM tr),
      tetok AS (SELECT doc_id, unnest(tokens) AS token FROM te),
      x AS (SELECT tt.doc_id, tt.token, l.lang, l.tot FROM tetok tt CROSS JOIN totl l),
      scored AS (SELECT x.doc_id, x.lang,
                   SUM(ln((COALESCE(c.c, 0) + 1)::DOUBLE
                          / CAST(x.tot + (SELECT v FROM vocab) AS DOUBLE))) AS ll
                 FROM x LEFT JOIN clt c ON c.lang = x.lang AND c.token = x.token
                 GROUP BY 1, 2),
      sc AS (SELECT s.doc_id, s.lang,
               ROUND(s.ll + ln(CAST(p.nd AS DOUBLE) / (SELECT n FROM ntr)), 6) AS score
             FROM scored s JOIN prior p ON p.lang = s.lang),
      m AS (SELECT doc_id, MAX(score) AS ms FROM sc GROUP BY doc_id),
      pred AS (SELECT sc.doc_id, MIN(sc.lang) AS pred_lang, MAX(sc.score) AS score
               FROM sc JOIN m ON m.doc_id = sc.doc_id AND sc.score = m.ms
               GROUP BY sc.doc_id),
      acc AS (SELECT COUNT(*) AS nb,
                     SUM(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END) AS cb
              FROM pred p JOIN documents d USING (doc_id))
      SELECT p.doc_id, d.lang AS actual_lang, p.pred_lang, p.score,
             ROUND(CAST(acc.cb AS DOUBLE) / acc.nb, 6) AS acc_batch,
             CAST(acc.cb AS DOUBLE) / acc.nb >= 0.6 AS fit_ok
      FROM pred p JOIN documents d USING (doc_id), acc
      ORDER BY p.doc_id"""),
      (s, dir) => {
        import graft.text.NbState
        val toks = tokenized(s, dir).localCheckpoint() // train + batch read it
        val langs = docs(s, dir).select("doc_id", "lang")
        val train = toks.where(col("doc_id") % 19 =!= 7).join(langs, "doc_id")
          .localCheckpoint() // two fit deliveries read it
        val batch = toks.where(col("doc_id") % 19 === 7)
          .localCheckpoint() // predict and the fit gate read it
        val stDir = ScratchDirs.fresh(dir, "q296").head
        // the trainer run, delivered twice under one id: the replay
        // returns the committed version without re-training
        val v1 = NbState.fit(train, "lang", "tokens", stDir, "n1")
        require(NbState.fit(train, "lang", "tokens", stDir, "n1") == v1,
          "a replayed trainer id must be a no-op")
        // the head MOVES: a drifted refit under a new id — the pinned
        // reads below must not see it
        NbState.fit(train.where(col("doc_id") % 2 === 0), "lang", "tokens",
          stDir, "n2")
        // classify the batch off the PINNED version; gate accuracy
        val labeledB = batch.join(langs, "doc_id")
          .localCheckpoint() // the gate's predict + accuracy read it
        val report = NbState.maintain(labeledB, "lang", "tokens", "doc_id",
          stDir, minAccuracy = 0.6, asOf = Some(v1))
        // the accuracy the gate measured rides the report — no second
        // predict pass over the batch
        val accB = report.measured.get("acc")
        val meta = s.range(1)
          .select(accB.fold(lit(null).cast("double"))(a => round(lit(a), 6))
            .as("acc_batch"), lit(report.healthy).as("fit_ok"))
        NbState.predict(batch, "tokens", "doc_id", stDir, asOf = Some(v1))
          .join(langs.select(col("doc_id"), col("lang").as("actual_lang")),
            "doc_id")
          .crossJoin(broadcast(meta))
          .select(col("doc_id"), col("actual_lang"),
            col("pred_label").as("pred_lang"), col("score"),
            col("acc_batch"), col("fit_ok"))
          .orderBy("doc_id")
      })
  )

  /** Spark side of q166 (extracted so the defs entry stays readable). */
  private def jsDrift(s: SparkSession, dir: String): DataFrame = {
        val c = tokenized(s, dir)
          .select((col("doc_id") % 2).as("sl"), explode(col("tokens")).as("token"))
          .groupBy("token")
          .agg(sum(when(col("sl") === 0, 1).otherwise(0)).as("cnt_p"),
            sum(when(col("sl") === 1, 1).otherwise(0)).as("cnt_q"))
        val n = c.agg(sum("cnt_p").as("np"), sum("cnt_q").as("nq"))
        val p = col("cnt_p") / col("np")
        val q = col("cnt_q") / col("nq")
        val m = (p + q) / lit(2.0)
        val term = when(col("cnt_p") > 0, lit(0.5) * p * log(p / m))
          .otherwise(lit(0.0)) +
          when(col("cnt_q") > 0, lit(0.5) * q * log(q / m)).otherwise(lit(0.0))
        val j = c.crossJoin(broadcast(n))
          .select(col("token"), col("cnt_p"), col("cnt_q"),
            round(term * 1000000000).cast("long").as("c_nanos"))
          .localCheckpoint() // feeds the top-k AND the global sum
        val top = j.orderBy(col("c_nanos").desc, col("token")).limit(20)
        val tot = j.agg(sum("c_nanos").cast("long").as("js_total_nanos"))
        top.crossJoin(broadcast(tot))
          .select(col("token"), col("cnt_p"), col("cnt_q"), col("c_nanos"),
            col("js_total_nanos"))
          .orderBy(col("c_nanos").desc, col("token"))
  }
}
