package graft

/** DuckDB oracle SQL — the driver runs each statement on the same parquet
  * tables and hash-compares against the Spark result (SURVEY §2.11).
  *
  * Conventions keeping the compare deterministic:
  *  - every statement ends with a total ORDER BY;
  *  - computed floats are ROUND(x, k) on both sides;
  *  - timestamps are canonicalized to epoch microseconds (epoch_us ≡ Spark
  *    unix_micros after parquet ns→µs truncation);
  *  - counts/lengths are BIGINT on both sides (Spark side casts size() to
  *    long where needed);
  *  - md5-derived hashes use ('0x'||substr(md5(x),1,15))::BIGINT ≡ Spark
  *    conv(substring(md5(x),1,15),16,10)::long (15 hex chars < 2^63).
  */
object OracleSql {

  /** DuckDB 60-bit hash from md5 — must stay in lockstep with
    * graft.functions.TextFunctions.seededHash. */
  private def ddbHash(expr: String): String =
    s"('0x'||substr(md5($expr),1,15))::BIGINT"

  /** q3's oracle, bound to BOTH q3 and the QueryBuilder replay q90. */
  private val filterComboSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE (c_acctbal >= 1000 OR c_mktsegment = 'BUILDING')
      |  AND c_name LIKE '%5%'
      |ORDER BY c_custkey LIMIT 50 OFFSET 10""".stripMargin

  /** q40's oracle, bound to BOTH q40 and the QueryBuilder replay q91. */
  private val nestedDeepSql: String =
    """WITH li AS (
      |  SELECT l_orderkey,
      |         list_sort(list({'ln': CAST(l_linenumber AS BIGINT),
      |                         'q': CAST(l_quantity AS BIGINT)})) AS items
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT c.c_custkey,
      |       to_json(list_sort(list({'k': o.o_orderkey,
      |                               'items': li.items}))) AS orders
      |FROM customer c
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN li ON li.l_orderkey = o.o_orderkey
      |WHERE c.c_custkey <= 20
      |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin

  private val childArgsSql: String =
    """SELECT c.c_custkey,
      |       to_json(list({'k': x.o_orderkey,
      |                'p': printf('%.2f', ROUND(x.o_totalprice, 2))}
      |               ORDER BY x.o_totalprice DESC, x.o_orderkey))
      |         AS orders
      |FROM customer c
      |JOIN (SELECT o_custkey, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY o_custkey
      |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders WHERE o_orderstatus = 'O') x
      |  ON x.o_custkey = c.c_custkey AND x.rn <= 3
      |WHERE c.c_custkey <= 50
      |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin

  private val condFieldsSql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_custkey <= 40 ORDER BY c_custkey""".stripMargin

  private val nestedSql: String =
    """SELECT c.c_custkey,
      |       to_json(list_sort(list({'k': o.o_orderkey,
      |                'p': printf('%.2f', ROUND(o.o_totalprice, 2))})))
      |         AS orders
      |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      |WHERE c.c_custkey <= 50
      |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin

  /** One BM25 oracle, bound to BOTH q77 (scan path) and q82 (indexed
    * path): the two queries are row-identical by construction, and a
    * single SQL string makes the shared-oracle intent literal. The
    * depth parameter lets q93's fusion leg reuse the identical chain
    * at its candidate depth. */
  private def bm25Sql(k: Int): String =
    bm25SqlCore(k, "", "w IN ('join', 'hash', 'window')")

  /** The BM25 chain with a pluggable term filter (and optional leading
    * CTEs the filter references) — q77/q82/q93 use the literal list,
    * q141 a fuzzy-corrected term CTE. */
  private def bm25SqlCore(k: Int, preCtes: String,
      termsFilter: String): String =
    s"""WITH ${preCtes}tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |            FROM documents),
        |base AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS w
        |         FROM tk),
        |tf AS (SELECT doc_id, dl, w, COUNT(*)::DOUBLE AS tf FROM base
        |       WHERE $termsFilter GROUP BY 1, 2, 3),
        |dfc AS (SELECT w, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
        |ad AS (SELECT AVG(len(string_split(text, ' ')))::DOUBLE AS avgdl
        |       FROM documents),
        |sc AS (SELECT tf.doc_id,
        |         ln(((SELECT nd FROM n) - dfc.df + 0.5) / (dfc.df + 0.5)
        |            + 1.0) *
        |         (tf.tf * 2.2) /
        |         (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl /
        |            (SELECT avgdl FROM ad))) AS c
        |       FROM tf JOIN dfc USING (w)),
        |agg AS (SELECT doc_id, ROUND(SUM(c), 6) AS s FROM sc GROUP BY 1),
        |r AS (SELECT doc_id, s, ROW_NUMBER() OVER (
        |        ORDER BY s DESC, doc_id)::BIGINT AS rank
        |      FROM agg)
        |SELECT rank, doc_id, printf('%.3f', ROUND(s, 3)) AS bm25
        |FROM r WHERE rank <= $k ORDER BY rank""".stripMargin

  private val bm25Oracle: String = bm25Sql(20)

  /** q141: fuzzy-corrected BM25 — each typo resolves to its best
    * vocabulary word (min edit distance, then alphabetical; distinct),
    * and the standard chain scores the corrected set. */
  private val fuzzyBm25: String = {
    val pre =
      """v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS vw
        |       FROM documents),
        |q(term) AS (VALUES ('joinn'), ('windo'), ('hash')),
        |cand AS (SELECT q.term, v.vw,
        |           levenshtein(q.term, v.vw)::BIGINT AS dist
        |         FROM q JOIN v
        |           ON levenshtein(q.term, v.vw) <= 1 AND len(v.vw) > 0),
        |corr AS (SELECT DISTINCT vw AS cw FROM (
        |           SELECT term, vw, ROW_NUMBER() OVER (
        |             PARTITION BY term ORDER BY dist, vw) AS rn
        |           FROM cand) x
        |         WHERE rn = 1),
        |""".stripMargin
    bm25SqlCore(20, pre, "w IN (SELECT cw FROM corr)")
  }

  /** Shared simhash CTE chain (tok -> per-doc 32-bit signature -> d<=3
    * pairs with their hamming distance) — q48, q62, q83 and q85 all
    * compose THIS string, so a change to the hash width, sign-sum or
    * banding threshold cannot silently diverge between the pair miner
    * and the audits built on it. No leading WITH (q62 needs RECURSIVE). */
  private val simhashPairCtes: String = {
    val bits = (0 until 32).map(b =>
      s"(CASE WHEN SUM(((h >> $b) & 1) * 2 - 1) > 0 " +
        s"THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, ${ddbHash("w")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
       |        FROM documents) t),
       |s AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh
       |      FROM tok GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
       |             bit_count(xor(a.sh, b.sh)) AS d
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.sh, b.sh)) <= 3)""".stripMargin
  }

  /** Shared train/val/test assignment CTE (q54's split), composed by the
    * q83/q85 audits — one definition, like the Spark side's
    * TextQueries.splitAssignments. */
  private val splitCte: String =
    s"""sp AS (SELECT doc_id,
       |         CASE WHEN m < 8 THEN 'train' WHEN m = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM (SELECT doc_id,
       |               ${ddbHash("CAST(doc_id AS VARCHAR) || '#0'")} % 10
       |                 AS m
       |             FROM documents) x)""".stripMargin

  private val minhashSig: String = {
    val mins = (0 until 4).map(j =>
      s"MIN(${ddbHash(s"sh||'#$j'")}) AS s$j").mkString(",\n   ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
       |         generate_subscripts(string_split(text,' '),1) AS i
       |  FROM documents),
       |sh AS (
       |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |  FROM toks a
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
       |m AS (
       |  SELECT doc_id,
       |   $mins
       |  FROM sh GROUP BY doc_id)
       |SELECT d.doc_id, m.s0, m.s1, m.s2, m.s3
       |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
       |ORDER BY d.doc_id LIMIT 300""".stripMargin
  }

  private val simhash: String = {
    val bits = (0 until 16).map(b =>
      s"(CASE WHEN SUM(((h >> $b) & 1) * 2 - 1) > 0 THEN (1 << $b) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, ${ddbHash("w")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
       |        FROM documents) t)
       |SELECT doc_id, CAST($bits AS BIGINT) AS sh
       |FROM tok GROUP BY doc_id ORDER BY doc_id LIMIT 300""".stripMargin
  }

  /** The lang-id prediction CTEs (ending in `p(lang, lang_pred)`) —
    * shared by q26's confusion matrix and q159's metric sheet. */
  private val langIdCtes: String = {
    val markers = graft.functions.TextFunctions.langMarkers
    val hitCols = markers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text,' '), t -> list_contains([$lst], t))) AS h_$lang"
    }.mkString(",\n  ")
    val greatest = markers.map { case (l, _) => s"h_$l" }.mkString(", ")
    val firstMax = markers.map { case (l, _) =>
      s"WHEN h_$l = m THEN '$l'" }.mkString(" ")
    s"""WITH s AS (SELECT lang,
       |  $hitCols
       |  FROM documents),
       |p AS (SELECT lang,
       |  CASE WHEN m = 0 THEN 'und' $firstMax ELSE 'und' END AS lang_pred
       |  FROM (SELECT *, GREATEST($greatest) AS m FROM s) t)""".stripMargin
  }

  private val langId: String =
    s"""$langIdCtes
       |SELECT lang, lang_pred, COUNT(*) AS n FROM p
       |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin

  private def cosineKnnSql(k: Int): String =
    s"""WITH ex AS (
      |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
      |         generate_subscripts(embedding,1) AS i
      |  FROM embeddings),
      |q AS (SELECT i, x FROM ex WHERE vec_id = 1),
      |d AS (
      |  SELECT e.vec_id, SUM(e.x * q.x) AS dp,
      |         SQRT(SUM(e.x * e.x)) AS ne, SQRT(SUM(q.x * q.x)) AS nq
      |  FROM ex e JOIN q ON q.i = e.i
      |  WHERE e.vec_id <> 1 GROUP BY e.vec_id)
      |SELECT vec_id, ROUND(dp / (ne * nq), 4) AS sim
      |FROM d ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin

  private val cosineKnn: String = cosineKnnSql(5)

  // vec_id < 500 mirrors q33's in-code fixture cap (covers every row at
  // sf<=0.01, bounds the O(n²) baseline at any larger scale)
  private val embCosPairs: String =
    """WITH ex AS (
      |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
      |         generate_subscripts(embedding,1) AS i
      |  FROM embeddings WHERE vec_id < 500),
      |n AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
      |dt AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b, SUM(a.x * b.x) AS d
      |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2)
      |SELECT a, b, ROUND(d / (na.nrm * nb.nrm), 4) AS sim
      |FROM dt JOIN n na ON na.vec_id = a JOIN n nb ON nb.vec_id = b
      |WHERE ROUND(d / (na.nrm * nb.nrm), 4) >= 0.4
      |ORDER BY a, b""".stripMargin

  /** Exact replay of q34's deterministic IVF path (queryId=1, 16 centroids
    * = vec_id < 16, nProbe=4, k=5). Normalized dots are d/(norm·norm);
    * argmax rankings drop the constant per-vector norm factor. Ties break
    * on the lower cent_id exactly like NearestCentroid's lowest-ordinal
    * rule over the cent_id-sorted codebook. */
  /** q126: the kNN JOIN — per-query exact top-3 replayed as a
    * row_number window over the all-pairs cosine (the ORACLE may pay
    * the window; the engine's TopKAgg pre-reduces map-side). */
  private val knnJoinSql: String =
    """WITH ex AS (
        |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |         generate_subscripts(embedding,1) AS i
        |  FROM embeddings),
        |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
        |dt AS (
        |  SELECT a.vec_id AS v, b.vec_id AS qv, SUM(a.x * b.x) AS d
        |  FROM ex a JOIN ex b
        |    ON a.i = b.i AND b.vec_id >= 100 AND b.vec_id < 108
        |       AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |sims AS (
        |  SELECT qv AS q_id, v AS vec_id,
        |         ROUND(d / (nv.nrm * nq.nrm), 4) AS sim
        |  FROM dt JOIN nr nv ON nv.vec_id = v
        |          JOIN nr nq ON nq.vec_id = qv),
        |r AS (SELECT q_id, vec_id, sim,
        |        ROW_NUMBER() OVER (PARTITION BY q_id
        |          ORDER BY sim DESC, vec_id)::BIGINT AS rank
        |      FROM sims)
        |SELECT q_id, rank, vec_id, sim FROM r WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin

  /** q127: the IVF kNN join — q34's cell-assignment/probe-selection
    * replay generalized over the query set (cells = argmax centroid,
    * probes = top-4 centroids PER QUERY, candidates = equi-match on
    * probed cell), then q126's ranking over the survivors. */
  private val ivfKnnJoinSql: String =
    """WITH ex AS (
        |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |         generate_subscripts(embedding,1) AS i
        |  FROM embeddings),
        |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
        |cd AS (
        |  SELECT a.vec_id AS v, b.vec_id AS c, SUM(a.x * b.x) AS d
        |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id < 16
        |  GROUP BY 1, 2),
        |asg AS (
        |  SELECT v AS vec_id, c AS cell FROM (
        |    SELECT cd.v, cd.c,
        |           ROW_NUMBER() OVER (PARTITION BY cd.v
        |             ORDER BY cd.d / nc.nrm DESC, cd.c ASC) AS rn
        |    FROM cd JOIN nr nc ON nc.vec_id = cd.c) t
        |  WHERE rn = 1),
        |pr AS (
        |  SELECT q_id, cell FROM (
        |    SELECT cd.v AS q_id, cd.c AS cell,
        |           ROW_NUMBER() OVER (PARTITION BY cd.v
        |             ORDER BY cd.d / nc.nrm DESC, cd.c ASC) AS rn
        |    FROM cd JOIN nr nc ON nc.vec_id = cd.c
        |    WHERE cd.v >= 100 AND cd.v < 108) t
        |  WHERE rn <= 4),
        |qd AS (
        |  SELECT a.vec_id AS v, b.vec_id AS qv, SUM(a.x * b.x) AS d
        |  FROM ex a JOIN ex b
        |    ON a.i = b.i AND b.vec_id >= 100 AND b.vec_id < 108
        |       AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |sims AS (
        |  SELECT qd.qv AS q_id, qd.v AS vec_id,
        |         ROUND(qd.d / (nv.nrm * nq.nrm), 4) AS sim
        |  FROM qd
        |  JOIN asg ON asg.vec_id = qd.v
        |  JOIN pr ON pr.q_id = qd.qv AND pr.cell = asg.cell
        |  JOIN nr nv ON nv.vec_id = qd.v
        |  JOIN nr nq ON nq.vec_id = qd.qv),
        |r AS (SELECT q_id, vec_id, sim,
        |        ROW_NUMBER() OVER (PARTITION BY q_id
        |          ORDER BY sim DESC, vec_id)::BIGINT AS rank
        |      FROM sims)
        |SELECT q_id, rank, vec_id, sim FROM r WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin

  private val annIvf: String =
    """WITH ex AS (
      |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
      |         generate_subscripts(embedding,1) AS i
      |  FROM embeddings),
      |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT a.vec_id AS v, b.vec_id AS c, SUM(a.x * b.x) AS d
      |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id < 16
      |  GROUP BY 1, 2),
      |asg AS (
      |  SELECT v AS vec_id, c AS cell FROM (
      |    SELECT dt.v, dt.c,
      |           ROW_NUMBER() OVER (PARTITION BY dt.v
      |             ORDER BY dt.d / nc.nrm DESC, dt.c ASC) AS rn
      |    FROM dots dt JOIN nr nc ON nc.vec_id = dt.c) t
      |  WHERE rn = 1),
      |pr AS (
      |  SELECT dt.c AS cell FROM dots dt JOIN nr nc ON nc.vec_id = dt.c
      |  WHERE dt.v = 1
      |  ORDER BY dt.d / nc.nrm DESC, dt.c ASC LIMIT 4)
      |SELECT dt.v AS vec_id, ROUND(dt.d / (nv.nrm * nq.nrm), 4) AS sim
      |FROM dots dt
      |JOIN asg ON asg.vec_id = dt.v
      |JOIN pr ON pr.cell = asg.cell
      |JOIN nr nv ON nv.vec_id = dt.v
      |JOIN nr nq ON nq.vec_id = 1
      |WHERE dt.c = 1 AND dt.v <> 1
      |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  /** Exact replay of q44's hyperplane-LSH pair pipeline: the ±1 plane set
    * is deterministic (SimilarityQueries.hyperplanes), so it rides into the
    * SQL as a VALUES table; signature bit b = dot(normalized emb,
    * plane_b) > 0, candidates share either 8-bit band, survivors pay the
    * exact cosine (same d/(nrm·nrm) form the green q33 oracle uses). */
  private val embLshPairsSql: String = {
    val planes = graft.queries.SimilarityQueries.hyperplanes(16, 64)
    val vals = (for (b <- 0 until 16; i <- 0 until 64)
      yield s"($b,${i + 1},${planes(b)(i)})").mkString(",")
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |         generate_subscripts(embedding,1) AS i
       |  FROM embeddings),
       |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
       |nx AS (SELECT e.vec_id, e.i, e.x / NULLIF(nr.nrm, 0) AS x
       |       FROM ex e JOIN nr ON nr.vec_id = e.vec_id),
       |pl(plane, i, s) AS (VALUES $vals),
       |pb AS (SELECT nx.vec_id, pl.plane, SUM(nx.x * pl.s) AS d
       |       FROM nx JOIN pl ON pl.i = nx.i GROUP BY 1, 2),
       |sig AS (SELECT vec_id,
       |          CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << plane)
       |                        ELSE 0 END) AS BIGINT) AS sg
       |        FROM pb GROUP BY 1),
       |dt AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b, SUM(a.x * b.x) AS d
       |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2)
       |SELECT dt.a, dt.b, ROUND(dt.d / (na.nrm * nb.nrm), 4) AS sim
       |FROM dt
       |JOIN sig sa ON sa.vec_id = dt.a
       |JOIN sig sb ON sb.vec_id = dt.b
       |JOIN nr na ON na.vec_id = dt.a
       |JOIN nr nb ON nb.vec_id = dt.b
       |WHERE ((sa.sg & 255) = (sb.sg & 255)
       |   OR ((sa.sg >> 8) & 255) = ((sb.sg >> 8) & 255))
       |  AND ROUND(dt.d / (na.nrm * nb.nrm), 4) >= 0.4
       |ORDER BY dt.a, dt.b""".stripMargin
  }

  /** Exact replay of q81's JL projection audit: the ±1 sign matrix is
    * deterministic for fixed (dim, k, seed), so it rides in as a VALUES
    * table built from the SAME
    * [[graft.functions.VectorFunctions.projectionSigns]] the kernel
    * derives its signs from (q44's hyperplane pattern — one definition,
    * no drift). The projection's 1/√k factor is dropped: both engines
    * L2-normalize the projected vector, which cancels any global scale.
    * Pair membership keys on ROUND(sim,4) — q33's proven cross-engine
    * boundary convention. */
  private val jlAudit: String = {
    val signs = graft.functions.VectorFunctions.projectionSigns(64, 16, 42L)
    val vals = (for (j <- 0 until 16; i <- 0 until 64)
      yield s"($j,${i + 1},${signs(j)(i)})").mkString(",")
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |         generate_subscripts(embedding,1) AS i
       |  FROM embeddings WHERE vec_id < 500),
       |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
       |nx AS (SELECT e.vec_id, e.i, e.x / NULLIF(nr.nrm, 0) AS x
       |       FROM ex e JOIN nr ON nr.vec_id = e.vec_id),
       |sg(j, i, s) AS (VALUES $vals),
       |pj AS (SELECT nx.vec_id, sg.j, SUM(nx.x * sg.s) AS p
       |       FROM nx JOIN sg ON sg.i = nx.i GROUP BY 1, 2),
       |pn AS (SELECT vec_id, j,
       |         p / NULLIF(SQRT(SUM(p * p) OVER (PARTITION BY vec_id)), 0)
       |           AS p
       |       FROM pj),
       |sims AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b, SUM(a.x * b.x) AS sim
       |  FROM nx a JOIN nx b ON a.i = b.i AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2),
       |ps AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b, SUM(a.p * b.p) AS psim
       |  FROM pn a JOIN pn b ON a.j = b.j AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2)
       |SELECT COUNT(*)::BIGINT AS n_pairs,
       |       ROUND(AVG(ABS(sim - psim)), 3) AS mean_abs_err,
       |       ROUND(MAX(ABS(sim - psim)), 3) AS max_abs_err
       |FROM sims JOIN ps ON ps.a = sims.a AND ps.b = sims.b
       |WHERE ROUND(sim, 4) >= 0.4""".stripMargin
  }

  /** Exact replay of q86's pinned-codebook IVF-PQ probe: coarse
    * assignment and probe-cell choice replay q34's deterministic path
    * over NORMALIZED vectors, the PQ codebook rides in as a VALUES table
    * (built from [[graft.queries.SimilarityQueries.pinnedPqCodebook]] —
    * the same values the Spark-side kernels receive), encode is the
    * per-(vector, subspace) L2 argmin over the residual (ties → lowest
    * code, PqEncode's rule), and the ADC score is the probed cell's
    * centroid dot plus the m LUT lookups — PqAdcDot's exact arithmetic.
    * The VALUES literals round-trip: Double.toString emits the shortest
    * decimal that parses back to the identical double, and the ::DOUBLE
    * cast keeps DuckDB from routing them through DECIMAL. */
  private def pqAdcSql(k: Int): String = {
    val m = 8; val ksub = 4; val dsub = 8
    val cb = graft.queries.SimilarityQueries.pinnedPqCodebook(m, ksub, dsub)
    val vals = (for (j <- 0 until m; c <- 0 until ksub; d <- 0 until dsub)
      yield s"($j,$c,${d + 1},${cb((j * ksub + c) * dsub + d)})").mkString(",")
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |         generate_subscripts(embedding,1) AS i
       |  FROM embeddings),
       |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
       |nx AS (SELECT e.vec_id, e.i, e.x / NULLIF(nr.nrm, 0) AS x
       |       FROM ex e JOIN nr ON nr.vec_id = e.vec_id),
       |dots AS (
       |  SELECT a.vec_id AS v, b.vec_id AS c, SUM(a.x * b.x) AS d
       |  FROM nx a JOIN nx b ON a.i = b.i AND b.vec_id < 16
       |  GROUP BY 1, 2),
       |asg AS (
       |  SELECT v AS vec_id, c AS cell FROM (
       |    SELECT v, c, ROW_NUMBER() OVER (PARTITION BY v
       |             ORDER BY d DESC, c ASC) AS rn
       |    FROM dots) t
       |  WHERE rn = 1),
       |pr AS (SELECT c AS cell FROM dots WHERE v = 1
       |       ORDER BY d DESC, c ASC LIMIT 4),
       |cb AS (SELECT j, c, d, v::DOUBLE AS v
       |       FROM (VALUES $vals) t(j, c, d, v)),
       |res AS (
       |  SELECT n.vec_id, n.i, n.x - cx.x AS r
       |  FROM nx n
       |  JOIN asg ON asg.vec_id = n.vec_id
       |  JOIN nx cx ON cx.vec_id = asg.cell AND cx.i = n.i),
       |dist AS (
       |  SELECT res.vec_id, cb.j, cb.c,
       |         SUM((res.r - cb.v) * (res.r - cb.v)) AS dd
       |  FROM res JOIN cb ON cb.j = (res.i - 1) // $dsub
       |                  AND cb.d = (res.i - 1) % $dsub + 1
       |  GROUP BY 1, 2, 3),
       |enc AS (
       |  SELECT vec_id, j, c AS code FROM (
       |    SELECT vec_id, j, c, ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |             ORDER BY dd ASC, c ASC) AS rn
       |    FROM dist) t
       |  WHERE rn = 1),
       |q AS (SELECT i, x FROM nx WHERE vec_id = 1),
       |lut AS (
       |  SELECT cb.j, cb.c, SUM(q.x * cb.v) AS l
       |  FROM q JOIN cb ON cb.j = (q.i - 1) // $dsub
       |                AND cb.d = (q.i - 1) % $dsub + 1
       |  GROUP BY 1, 2),
       |score AS (
       |  SELECT e.vec_id, MAX(dt.d) + SUM(l.l) AS adc
       |  FROM enc e
       |  JOIN asg ON asg.vec_id = e.vec_id
       |  JOIN dots dt ON dt.v = 1 AND dt.c = asg.cell
       |  JOIN lut l ON l.j = e.j AND l.c = e.code
       |  GROUP BY e.vec_id)
       |SELECT sc.vec_id, ROUND(sc.adc, 4) AS adc
       |FROM score sc
       |JOIN asg ON asg.vec_id = sc.vec_id
       |JOIN pr ON pr.cell = asg.cell
       |WHERE sc.vec_id <> 1
       |ORDER BY adc DESC, sc.vec_id LIMIT $k""".stripMargin
  }

  /** Exact replay of q51's md5 MinHash+LSH pair pipeline: k=8 signature,
    * candidate pairs = any of the 4 bands (2 rows each) fully equal,
    * est_jaccard = agreeing positions / 8. */
  private val minhashPairsMd5: String = {
    val mins = (0 until 8).map(j =>
      s"MIN(${ddbHash(s"sh||'#$j'")}) AS s$j").mkString(",\n   ")
    val agree = (0 until 8)
      .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val bandEq = (0 until 4).map(bq =>
      s"(a.s${2 * bq} = b.s${2 * bq} AND a.s${2 * bq + 1} = b.s${2 * bq + 1})")
      .mkString(" OR ")
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           ORDER BY doc_id LIMIT 1000),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
       |         generate_subscripts(string_split(text,' '),1) AS i
       |  FROM d),
       |sh AS (
       |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |  FROM toks a
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
       |m AS (
       |  SELECT doc_id,
       |   $mins
       |  FROM sh GROUP BY doc_id)
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |       ($agree) / 8.0 AS est_jaccard
       |FROM m a JOIN m b ON a.doc_id < b.doc_id AND ($bandEq)
       |WHERE ($agree) / 8.0 >= 0.5
       |ORDER BY a, b""".stripMargin
  }

  /** q185: the q51 md5-minhash machinery as a SEARCH — the query doc's
    * signature against every stored one, candidates = any band fully
    * equal, verified on agreeing positions / 8, top-5 by (similarity
    * desc, doc_id). The division spells identically to the engine's
    * (eighths are exact doubles — no rounding needed). */
  private val textStoreSearchSql: String = {
    val mins = (0 until 8).map(j =>
      s"MIN(${ddbHash(s"sh||'#$j'")}) AS s$j").mkString(",\n   ")
    val agree = (0 until 8)
      .map(j => s"(CASE WHEN a.s$j = q.s$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val bandEq = (0 until 4).map(bq =>
      s"(a.s${2 * bq} = q.s${2 * bq} AND a.s${2 * bq + 1} = q.s${2 * bq + 1})")
      .mkString(" OR ")
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           ORDER BY doc_id LIMIT 300),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
       |         generate_subscripts(string_split(text,' '),1) AS i
       |  FROM d),
       |sh AS (
       |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |  FROM toks a
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
       |m AS (
       |  SELECT doc_id,
       |   $mins
       |  FROM sh GROUP BY doc_id),
       |q AS (SELECT * FROM m WHERE doc_id = 45)
       |SELECT a.doc_id, ($agree) / 8.0 AS est_jaccard
       |FROM m a, q
       |WHERE ($bandEq) AND ($agree) / 8.0 >= 0.5
       |ORDER BY est_jaccard DESC, a.doc_id
       |LIMIT 5""".stripMargin
  }

  /** q190: q185's machinery with doc 45 FORGOTTEN on the store side —
    * the query signature still computes from its text, the candidate
    * scan excludes the forgotten id. */
  private val forgetCompactionSql: String = {
    val mins = (0 until 8).map(j =>
      s"MIN(${ddbHash(s"sh||'#$j'")}) AS s$j").mkString(",\n   ")
    val agree = (0 until 8)
      .map(j => s"(CASE WHEN a.s$j = q.s$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val bandEq = (0 until 4).map(bq =>
      s"(a.s${2 * bq} = q.s${2 * bq} AND a.s${2 * bq + 1} = q.s${2 * bq + 1})")
      .mkString(" OR ")
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           ORDER BY doc_id LIMIT 300),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
       |         generate_subscripts(string_split(text,' '),1) AS i
       |  FROM d),
       |sh AS (
       |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |  FROM toks a
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
       |m AS (
       |  SELECT doc_id,
       |   $mins
       |  FROM sh GROUP BY doc_id),
       |q AS (SELECT * FROM m WHERE doc_id = 45)
       |SELECT a.doc_id, ($agree) / 8.0 AS est_jaccard
       |FROM m a, q
       |WHERE a.doc_id <> 45 AND ($bandEq) AND ($agree) / 8.0 >= 0.5
       |ORDER BY est_jaccard DESC, a.doc_id
       |LIMIT 5""".stripMargin
  }

  /** q186: the 32-bit md5 simhash recomputed for every document and
    * the within-radius top-k replayed against doc 1's hash — keys are
    * the store's STRINGS, so ties order by the VARCHAR cast. */
  private val simhashStoreSearchSql: String = {
    val bits = (0 until 32).map(b =>
      s"(CASE WHEN SUM(((h >> $b) & 1) * 2 - 1) > 0 " +
        s"THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, ${ddbHash("w")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
       |        FROM documents) t),
       |s AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh
       |      FROM tok GROUP BY doc_id),
       |q AS (SELECT sh FROM s WHERE doc_id = 1)
       |SELECT CAST(a.doc_id AS VARCHAR) AS key,
       |       bit_count(xor(a.sh, q.sh))::BIGINT AS d
       |FROM s a, q
       |WHERE bit_count(xor(a.sh, q.sh)) <= 3
       |ORDER BY d, key LIMIT 5""".stripMargin
  }

  /** q187: the q51 (md5 minhash, est ≥ 0.5) and q48 (32-bit simhash,
    * d ≤ 3) machineries restricted to the same cross-split corpus,
    * INTERSECTED on the (batch, stored) pair, min-s_id cut per batch
    * doc — the two-kernel agreement's ground truth. */
  private val textKernelAgreementSql: String = {
    val mins = (0 until 8).map(j =>
      s"MIN(${ddbHash(s"sh||'#$j'")}) AS s$j").mkString(",\n   ")
    val agree = (0 until 8)
      .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val bandEq = (0 until 4).map(bq =>
      s"(a.s${2 * bq} = b.s${2 * bq} AND a.s${2 * bq + 1} = b.s${2 * bq + 1})")
      .mkString(" OR ")
    val bits = (0 until 32).map(b =>
      s"(CASE WHEN SUM(((h >> $b) & 1) * 2 - 1) > 0 " +
        s"THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
       |         generate_subscripts(string_split(text,' '),1) AS i
       |  FROM d),
       |sh3 AS (
       |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |  FROM toks a
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
       |m AS (
       |  SELECT doc_id,
       |   $mins
       |  FROM sh3 GROUP BY doc_id),
       |mh AS (SELECT a.doc_id AS s_id, b.doc_id AS doc_id,
       |              ($agree) / 8.0 AS est
       |       FROM m a JOIN m b
       |         ON a.doc_id < 150 AND b.doc_id >= 150 AND ($bandEq)
       |       WHERE ($agree) / 8.0 >= 0.5),
       |tok AS (SELECT doc_id, ${ddbHash("w")} AS h
       |        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
       |              FROM d) t),
       |s AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh
       |      FROM tok GROUP BY doc_id),
       |sp AS (SELECT a.doc_id AS s_id, b.doc_id AS doc_id,
       |              bit_count(xor(a.sh, b.sh))::BIGINT AS dist
       |       FROM s a JOIN s b ON a.doc_id < 150 AND b.doc_id >= 150
       |       WHERE bit_count(xor(a.sh, b.sh)) <= 3),
       |j AS (SELECT mh.doc_id, mh.s_id, mh.est, sp.dist
       |      FROM mh JOIN sp
       |        ON mh.doc_id = sp.doc_id AND mh.s_id = sp.s_id),
       |r AS (SELECT j.*, row_number() OVER
       |        (PARTITION BY doc_id ORDER BY s_id) AS rn FROM j)
       |SELECT doc_id, s_id AS dup_of, est AS est_jaccard, dist
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** q125: the q51 pair machinery restricted to CROSS-SPLIT pairs —
    * train side as `a`, eval (val+test) side as `b`, the q54 split CTE
    * deciding sides. Same shingles, same 8-slot minhash, same 4×2
    * banding, same est-Jaccard bound. */
  private val crossDecontam: String = {
    val mins = (0 until 8).map(j =>
      s"MIN(${ddbHash(s"sh||'#$j'")}) AS s$j").mkString(",\n   ")
    val agree = (0 until 8)
      .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val bandEq = (0 until 4).map(bq =>
      s"(a.s${2 * bq} = b.s${2 * bq} AND a.s${2 * bq + 1} = b.s${2 * bq + 1})")
      .mkString(" OR ")
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           ORDER BY doc_id LIMIT 1000),
       |$splitCte,
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
       |         generate_subscripts(string_split(text,' '),1) AS i
       |  FROM d),
       |sh AS (
       |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |  FROM toks a
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
       |m AS (
       |  SELECT doc_id,
       |   $mins
       |  FROM sh GROUP BY doc_id),
       |ms AS (SELECT m.*, sp.split FROM m JOIN sp USING (doc_id))
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |       ($agree) / 8.0 AS est_jaccard
       |FROM ms a JOIN ms b
       |  ON a.split = 'train' AND b.split <> 'train' AND ($bandEq)
       |WHERE ($agree) / 8.0 >= 0.5
       |ORDER BY a, b""".stripMargin
  }

  /** Exact replay of q52's md5 winnowing: the fingerprint set is the
    * distinct minima of every 16-wide sliding window over char-8-gram
    * hashes (rightmost-min tie-break never changes the VALUE picked). */
  private val winnowMd5: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           ORDER BY doc_id LIMIT 300),
       |pos AS (
       |  SELECT doc_id, text,
       |         unnest(range(1, GREATEST(length(text) - 8 + 1, 0) + 1)) AS i
       |  FROM d),
       |g AS (
       |  SELECT doc_id, i,
       |         ${ddbHash("substr(text, i::INT, 8)")} AS h
       |  FROM pos),
       |wm AS (
       |  SELECT doc_id, i,
       |         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS vm,
       |         MAX(i) OVER (PARTITION BY doc_id) AS ng
       |  FROM g),
       |f AS (SELECT DISTINCT doc_id, vm FROM wm WHERE i <= ng - 16 + 1),
       |agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_fp, MIN(vm) AS min_fp
       |        FROM f GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(agg.n_fp, 0)::BIGINT AS n_fp, agg.min_fp
       |FROM d LEFT JOIN agg ON agg.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private val q8Sql: String =
    """SELECT n.n_name,
      |       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      |FROM customer c
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |WHERE r.r_name = 'ASIA'
      |GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""".stripMargin

  private val ngramJaccard: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '),1) AS i
      |  FROM documents),
      |sh AS (
      |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
      |  FROM toks a
      |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
      |shl AS (SELECT doc_id, list_distinct(list(sh)) AS shs
      |        FROM sh GROUP BY doc_id),
      |d AS (
      |  SELECT dd.doc_id, dd.lang,
      |         len(string_split(dd.text,' ')) // 32 AS bucket, shl.shs
      |  FROM documents dd JOIN shl ON shl.doc_id = dd.doc_id),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |         ROUND(len(list_intersect(a.shs, b.shs))::DOUBLE /
      |               len(list_distinct(list_concat(a.shs, b.shs))), 4)
      |           AS jaccard
      |  FROM d a JOIN d b
      |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
      |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.2 ORDER BY a, b""".stripMargin

  /** Ground-truth ALL-PAIRS hamming distances over a pinned (key, hash)
    * VALUES table — the q104/q106 oracle shape: the engine's banded
    * pigeonhole join must return exactly these pairs, proving the
    * banding lossless within the bound. */
  /** One pinned (key, hash) pair as a VALUES row — the single
    * definition every pinned-hash oracle (q104/q106-q110) renders
    * through. */
  private def hashValuesOf(pinned: Seq[(String, Long)]): String =
    pinned.map { case (k, h) => s"('$k', ($h)::BIGINT)" }
      .mkString(",\n  ")

  private def dhashPairsSql(pinned: Seq[(String, Long)],
      maxDist: Int = 3): String = {
    val vals = hashValuesOf(pinned)
    s"""WITH t(key, dhash) AS (VALUES
       |  $vals)
       |SELECT a.key AS a, b.key AS b,
       |       bit_count(xor(a.dhash, b.dhash))::BIGINT AS d
       |FROM t a JOIN t b ON a.key < b.key
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= $maxDist
       |ORDER BY a, b""".stripMargin
  }

  /** Ground-truth CONTAINER-LEVEL repost verdict over pinned composite
    * `container#index` hashes — the q113/q115 oracle shape: all-pairs
    * ≤3 unit matches, split on the LAST '#' (greedy regex — the
    * engine's rule, so a container key carrying '#' itself parses
    * identically on both sides), canonicalized per container pair,
    * aggregated to (n_matches, n_offsets, min shift) with the engine's
    * minMatches=2 cut. */
  private def repostVerdictSql(pinned: Seq[(String, Long)]): String = {
    val vals = hashValuesOf(pinned)
    s"""WITH t(key, dhash) AS (VALUES
       |  $vals),
       |p AS (SELECT a.key AS ka, b.key AS kb
       |      FROM t a JOIN t b ON a.key < b.key
       |      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
       |e AS (SELECT regexp_extract(ka, '^(.*)#', 1) AS va,
       |             regexp_extract(ka, '#([0-9]+)$$', 1)::INT AS fa,
       |             regexp_extract(kb, '^(.*)#', 1) AS vb,
       |             regexp_extract(kb, '#([0-9]+)$$', 1)::INT AS fb
       |      FROM p),
       |c AS (SELECT CASE WHEN va < vb THEN va ELSE vb END AS a,
       |             CASE WHEN va < vb THEN vb ELSE va END AS b,
       |             (CASE WHEN va < vb THEN fa - fb
       |                   ELSE fb - fa END)::BIGINT AS shift
       |      FROM e WHERE va <> vb)
       |SELECT a, b, COUNT(*)::BIGINT AS n_matches,
       |       COUNT(DISTINCT shift)::BIGINT AS n_offsets,
       |       MIN(shift) AS shift
       |FROM c GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY a, b""".stripMargin
  }

  /** Ground-truth connected-component clusters over a pinned hash
    * set's ≤3 pair graph (recursive-CTE reachability, canonical = MIN
    * key) — the q112/q117 oracle shape. */
  private def dupClustersSql(pinned: Seq[(String, Long)],
      maxDist: Int = 3): String = {
    val vals = hashValuesOf(pinned)
    s"""WITH RECURSIVE t(key, dhash) AS (VALUES
       |  $vals),
       |p AS (SELECT a.key AS a, b.key AS b
       |      FROM t a JOIN t b ON a.key < b.key
       |      WHERE bit_count(xor(a.dhash, b.dhash)) <= $maxDist),
       |e AS (SELECT a AS id, b AS nb FROM p UNION ALL SELECT b, a FROM p),
       |reach(id, r) AS (
       |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
       |  UNION
       |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
       |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)
       |SELECT t.key, COALESCE(c.canonical, t.key) AS canonical,
       |       COUNT(*) OVER (
       |         PARTITION BY COALESCE(c.canonical, t.key))::BIGINT
       |         AS cluster_size
       |FROM t LEFT JOIN comp c ON c.id = t.key
       |ORDER BY key""".stripMargin
  }

  /** Ground-truth exact hamming top-k over a pinned hash set — the
    * q111/q116 oracle shape; `query` is the literal the engine uses. */
  private def hammingKnnSql(pinned: Seq[(String, Long)], query: Long,
      k: Int): String = {
    val vals = hashValuesOf(pinned)
    s"""WITH t(key, dhash) AS (VALUES
       |  $vals)
       |SELECT key,
       |       bit_count(xor(dhash, ($query)::BIGINT))::BIGINT AS d
       |FROM t ORDER BY d, key LIMIT $k""".stripMargin
  }

  /** [[hammingKnnSql]] restricted to the banded-index radius — the
    * q170 store-probe ground truth (a banded index answers
    * within-radius top-k; beyond-radius rows must NOT appear). */
  private def hammingSearchSql(pinned: Seq[(String, Long)], query: Long,
      k: Int, maxDist: Int): String = {
    val vals = hashValuesOf(pinned)
    s"""WITH t(key, dhash) AS (VALUES
       |  $vals)
       |SELECT key,
       |       bit_count(xor(dhash, ($query)::BIGINT))::BIGINT AS d
       |FROM t
       |WHERE bit_count(xor(dhash, ($query)::BIGINT)) <= $maxDist
       |ORDER BY d, key LIMIT $k""".stripMargin
  }

  /** The q217/q218 shared replay: all four ensemble filters — q27's
    * rounded ratios, q162's quantile fences, q94's pinned logistic,
    * q207's held-out bigram LM — composed to per-doc flags; `tail`
    * continues the WITH chain (or is the final SELECT). */
  /** The shared ensemble replay, parameterized (r19) so the
    * incremental-verdict oracle and the batch q217-family oracles
    * stay ONE definition of every scoring rule. Defaults reproduce
    * the batch ensemble exactly; q226 overrides the training
    * populations (fences + LM train on the init corpus only), the
    * scored set (init held-out ∪ every late arrival), and the two
    * epoch-split flag rules. */
  /** [[ensembleSql]] under the q226 TWO-EPOCH split: fences and the
    * LM train on the INIT corpus (doc_id % 11 <> 7); init docs carry
    * batch-rule flags, late arrivals frozen-rule flags. Shared by the
    * verdict-store replay (q226) and the store-driven build (q228). */
  private def twoEpochEnsembleSql(tail: String): String = ensembleSql(
    tail,
    fenWhere = "doc_id % 11 <> 7",
    trainWhere = "doc_id % 5 <> 0 AND doc_id % 11 <> 7",
    scoreWhere =
      "(doc_id % 5 = 0 AND doc_id % 11 <> 7) OR doc_id % 11 = 7",
    fencesJoin = "LEFT JOIN",
    fencesCase =
      """CASE WHEN f.lang IS NULL THEN 1
        |         WHEN r.nt >= f.lo AND r.nt <= f.hi
        |         THEN 1 ELSE 0 END""".stripMargin,
    lmOkCase =
      """CASE WHEN r.doc_id % 11 <> 7 AND r.doc_id % 5 <> 0 THEN 1
        |         WHEN lm.score IS NULL THEN 1
        |         WHEN lm.score >= 0.0322 THEN 1 ELSE 0 END"""
        .stripMargin,
    // the engine's INIT epoch inner-joins fences: a null/unfenced
    // lang drops the init doc from the store; late docs keep the
    // serving rule (unknown fence passes)
    flagsFilter = "NOT (r.doc_id % 11 <> 7 AND f.lang IS NULL)")

  /** The q232 THREE-epoch replay (frozen-model ROTATION): doc
    * classes init (neither late split), late1 (doc_id % 11 = 7),
    * late2 (doc_id % 13 = 11 minus the late1 overlap). TWO model
    * generations replayed side by side — v1 (fences + LM trained on
    * the init corpus; scores init held-outs AND late-1 arrivals) and
    * v2 (trained on init + late 1, the grown corpus; scores late-2
    * arrivals) — with the batch inner-join fence rule for init docs
    * and the frozen unknown-lang-passes rule for arrivals, exactly
    * [[twoEpochEnsembleSql]]'s split extended one rotation. */
  private def rotatedEnsembleSql(tail: String): String = {
    val (w, b) = graft.queries.SimilarityQueries.pinnedLogisticWeights()
    val vals = w.zipWithIndex
      .map { case (v, i) => s"(${i + 1},$v)" }.mkString(",")
    val isInit = "doc_id % 11 <> 7 AND doc_id % 13 <> 11"
    val isLate1 = "doc_id % 11 = 7"
    val isLate2 = "doc_id % 13 = 11 AND doc_id % 11 <> 7"
    // the flags CTE joins six doc_id-bearing relations — every class
    // predicate there must qualify EVERY doc_id reference
    val isInitR = "(r.doc_id % 11 <> 7 AND r.doc_id % 13 <> 11)"
    val isLate1R = "(r.doc_id % 11 = 7)"
    val isLate2R = "(r.doc_id % 13 = 11 AND r.doc_id % 11 <> 7)"
    s"""WITH base AS (
       |  SELECT doc_id, lang, n_chars,
       |    len(string_split(text, ' '))::DOUBLE AS nt,
       |    len(list_distinct(string_split(text, ' ')))::DOUBLE AS uq
       |  FROM documents),
       |ratios AS (
       |  SELECT doc_id, lang, nt,
       |    CASE WHEN ROUND(n_chars::DOUBLE / nt, 4) >= 2.0
       |          AND ROUND(n_chars::DOUBLE / nt, 4) <= 6.0
       |          AND ROUND(uq / nt, 4) >= 0.4
       |         THEN 1 ELSE 0 END AS ratios_ok
       |  FROM base),
       |fa1 AS (
       |  SELECT lang, quantile_cont(nt, 0.25) AS q1,
       |         quantile_cont(nt, 0.75) AS q3
       |  FROM base WHERE $isInit GROUP BY 1),
       |f1 AS (SELECT lang, q1 - 1.5 * (q3 - q1) AS lo,
       |              q3 + 1.5 * (q3 - q1) AS hi FROM fa1),
       |fa2 AS (
       |  SELECT lang, quantile_cont(nt, 0.25) AS q1,
       |         quantile_cont(nt, 0.75) AS q3
       |  FROM base WHERE NOT ($isLate2) GROUP BY 1),
       |f2 AS (SELECT lang, q1 - 1.5 * (q3 - q1) AS lo,
       |              q3 + 1.5 * (q3 - q1) AS hi FROM fa2),
       |ex AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |              generate_subscripts(embedding,1) AS i
       |       FROM embeddings),
       |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
       |wts AS (SELECT i, v::DOUBLE AS v FROM (VALUES $vals) t(i, v)),
       |z AS (SELECT e.vec_id,
       |        SUM((e.x / NULLIF(nr.nrm, 0)) * wts.v) + $b AS z
       |      FROM ex e JOIN nr ON nr.vec_id = e.vec_id
       |                JOIN wts ON wts.i = e.i
       |      GROUP BY e.vec_id),
       |clf AS (SELECT vec_id AS doc_id,
       |          CASE WHEN ROUND(1.0 / (1.0 + EXP(-z)), 4) >= 0.5
       |               THEN 1 ELSE 0 END AS clf_keep
       |        FROM z),
       |t AS (
       |  SELECT doc_id,
       |    string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')),
       |      ' ') AS w
       |  FROM documents),
       |bgz AS (SELECT doc_id,
       |          unnest(list_zip(w[1:len(w) - 1], w[2:len(w)])) AS z
       |        FROM t WHERE len(w) >= 2),
       |bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bgz),
       |tr1 AS (SELECT * FROM bg
       |        WHERE ($isInit) AND doc_id % 5 <> 0),
       |te1 AS (SELECT * FROM bg
       |        WHERE (($isInit) AND doc_id % 5 = 0) OR ($isLate1)),
       |cbg1 AS (SELECT w1, w2, count(*) AS c FROM tr1 GROUP BY 1, 2),
       |cpx1 AS (SELECT w1, count(*) AS c FROM tr1 GROUP BY 1),
       |v1c AS (SELECT count(DISTINCT x) AS v FROM
       |  (SELECT w1 AS x FROM tr1 UNION SELECT w2 FROM tr1)),
       |tm1 AS (
       |  SELECT te1.doc_id,
       |    (1000000000::BIGINT * (COALESCE(cbg1.c, 0) + 1))
       |      // (COALESCE(cpx1.c, 0) + v1c.v) AS term
       |  FROM te1
       |  LEFT JOIN cbg1 ON cbg1.w1 = te1.w1 AND cbg1.w2 = te1.w2
       |  LEFT JOIN cpx1 ON cpx1.w1 = te1.w1
       |  CROSS JOIN v1c),
       |lm1 AS (SELECT doc_id,
       |          round((sum(term)::DOUBLE / count(*)) / 1e9, 9) AS score
       |        FROM tm1 GROUP BY doc_id),
       |tr2 AS (SELECT * FROM bg
       |        WHERE NOT ($isLate2) AND doc_id % 5 <> 0),
       |te2 AS (SELECT * FROM bg WHERE $isLate2),
       |cbg2 AS (SELECT w1, w2, count(*) AS c FROM tr2 GROUP BY 1, 2),
       |cpx2 AS (SELECT w1, count(*) AS c FROM tr2 GROUP BY 1),
       |v2c AS (SELECT count(DISTINCT x) AS v FROM
       |  (SELECT w1 AS x FROM tr2 UNION SELECT w2 FROM tr2)),
       |tm2 AS (
       |  SELECT te2.doc_id,
       |    (1000000000::BIGINT * (COALESCE(cbg2.c, 0) + 1))
       |      // (COALESCE(cpx2.c, 0) + v2c.v) AS term
       |  FROM te2
       |  LEFT JOIN cbg2 ON cbg2.w1 = te2.w1 AND cbg2.w2 = te2.w2
       |  LEFT JOIN cpx2 ON cpx2.w1 = te2.w1
       |  CROSS JOIN v2c),
       |lm2 AS (SELECT doc_id,
       |          round((sum(term)::DOUBLE / count(*)) / 1e9, 9) AS score
       |        FROM tm2 GROUP BY doc_id),
       |flags AS (
       |  SELECT r.doc_id, r.ratios_ok,
       |    CASE WHEN $isInitR
       |         THEN CASE WHEN r.nt >= f1.lo AND r.nt <= f1.hi
       |                   THEN 1 ELSE 0 END
       |         WHEN $isLate1R
       |         THEN CASE WHEN f1.lang IS NULL THEN 1
       |                   WHEN r.nt >= f1.lo AND r.nt <= f1.hi
       |                   THEN 1 ELSE 0 END
       |         ELSE CASE WHEN f2.lang IS NULL THEN 1
       |                   WHEN r.nt >= f2.lo AND r.nt <= f2.hi
       |                   THEN 1 ELSE 0 END END AS fences_ok,
       |    COALESCE(clf.clf_keep, 1) AS clf_ok,
       |    CASE WHEN $isInitR AND r.doc_id % 5 <> 0 THEN 1
       |         WHEN $isLate2R
       |         THEN CASE WHEN lm2.score IS NULL THEN 1
       |                   WHEN lm2.score >= 0.0322 THEN 1 ELSE 0 END
       |         ELSE CASE WHEN lm1.score IS NULL THEN 1
       |                   WHEN lm1.score >= 0.0322 THEN 1 ELSE 0 END
       |         END AS lm_ok
       |  FROM ratios r
       |  LEFT JOIN f1 ON f1.lang = r.lang
       |  LEFT JOIN f2 ON f2.lang = r.lang
       |  LEFT JOIN clf ON clf.doc_id = r.doc_id
       |  LEFT JOIN lm1 ON lm1.doc_id = r.doc_id
       |  LEFT JOIN lm2 ON lm2.doc_id = r.doc_id
       |  WHERE NOT ($isInitR AND f1.lang IS NULL))
       |$tail""".stripMargin
  }

  private def ensembleSql(tail: String,
      fenWhere: String = "TRUE",
      trainWhere: String = "doc_id % 5 <> 0",
      scoreWhere: String = "doc_id % 5 = 0",
      fencesJoin: String = "JOIN",
      fencesCase: String =
        "CASE WHEN r.nt >= f.lo AND r.nt <= f.hi THEN 1 ELSE 0 END",
      lmOkCase: String =
        """CASE WHEN r.doc_id % 5 <> 0 THEN 1
          |         WHEN lm.score IS NULL THEN 1
          |         WHEN lm.score >= 0.0322 THEN 1 ELSE 0 END"""
          .stripMargin,
      flagsFilter: String = "TRUE"): String = {
    val (w, b) = graft.queries.SimilarityQueries.pinnedLogisticWeights()
    val vals = w.zipWithIndex
      .map { case (v, i) => s"(${i + 1},$v)" }.mkString(",")
    s"""WITH base AS (
       |  SELECT doc_id, lang, n_chars,
       |    len(string_split(text, ' '))::DOUBLE AS nt,
       |    len(list_distinct(string_split(text, ' ')))::DOUBLE AS uq
       |  FROM documents),
       |ratios AS (
       |  SELECT doc_id, lang, nt,
       |    CASE WHEN ROUND(n_chars::DOUBLE / nt, 4) >= 2.0
       |          AND ROUND(n_chars::DOUBLE / nt, 4) <= 6.0
       |          AND ROUND(uq / nt, 4) >= 0.4
       |         THEN 1 ELSE 0 END AS ratios_ok
       |  FROM base),
       |fen AS (
       |  SELECT lang, quantile_cont(nt, 0.25) AS q1,
       |         quantile_cont(nt, 0.75) AS q3
       |  FROM base WHERE $fenWhere GROUP BY 1),
       |fen2 AS (SELECT lang, q1 - 1.5 * (q3 - q1) AS lo,
       |                q3 + 1.5 * (q3 - q1) AS hi FROM fen),
       |ex AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |              generate_subscripts(embedding,1) AS i
       |       FROM embeddings),
       |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
       |wts AS (SELECT i, v::DOUBLE AS v FROM (VALUES $vals) t(i, v)),
       |z AS (SELECT e.vec_id,
       |        SUM((e.x / NULLIF(nr.nrm, 0)) * wts.v) + $b AS z
       |      FROM ex e JOIN nr ON nr.vec_id = e.vec_id
       |                JOIN wts ON wts.i = e.i
       |      GROUP BY e.vec_id),
       |clf AS (SELECT vec_id AS doc_id,
       |          CASE WHEN ROUND(1.0 / (1.0 + EXP(-z)), 4) >= 0.5
       |               THEN 1 ELSE 0 END AS clf_keep
       |        FROM z),
       |t AS (
       |  SELECT doc_id,
       |    string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')),
       |      ' ') AS w
       |  FROM documents),
       |bgz AS (SELECT doc_id,
       |          unnest(list_zip(w[1:len(w) - 1], w[2:len(w)])) AS z
       |        FROM t WHERE len(w) >= 2),
       |bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bgz),
       |train AS (SELECT * FROM bg WHERE $trainWhere),
       |test AS (SELECT * FROM bg WHERE $scoreWhere),
       |cbg AS (SELECT w1, w2, count(*) AS c FROM train GROUP BY 1, 2),
       |cpfx AS (SELECT w1, count(*) AS c FROM train GROUP BY 1),
       |v AS (SELECT count(DISTINCT x) AS v FROM
       |  (SELECT w1 AS x FROM train UNION SELECT w2 FROM train)),
       |terms AS (
       |  SELECT test.doc_id,
       |    (1000000000::BIGINT * (COALESCE(cbg.c, 0) + 1))
       |      // (COALESCE(cpfx.c, 0) + v.v) AS term
       |  FROM test
       |  LEFT JOIN cbg ON cbg.w1 = test.w1 AND cbg.w2 = test.w2
       |  LEFT JOIN cpfx ON cpfx.w1 = test.w1
       |  CROSS JOIN v),
       |lm AS (SELECT doc_id,
       |         round((sum(term)::DOUBLE / count(*)) / 1e9, 9) AS score
       |       FROM terms GROUP BY doc_id),
       |flags AS (
       |  SELECT r.doc_id, r.ratios_ok,
       |    $fencesCase AS fences_ok,
       |    COALESCE(clf.clf_keep, 1) AS clf_ok,
       |    $lmOkCase AS lm_ok
       |  FROM ratios r $fencesJoin fen2 f USING (lang)
       |  LEFT JOIN clf ON clf.doc_id = r.doc_id
       |  LEFT JOIN lm ON lm.doc_id = r.doc_id
       |  WHERE $flagsFilter)
       |$tail""".stripMargin
  }

  val all: Map[String, String] = Map(
    // q217: the quality-ensemble verdict — DuckDB replays all four
    // filters and the cascade attribution
    "q217_ensemble_verdict" -> ensembleSql(
      """SELECT doc_id, ratios_ok, fences_ok, clf_ok, lm_ok,
        |  CASE WHEN ratios_ok = 1 AND fences_ok = 1 AND clf_ok = 1
        |        AND lm_ok = 1 THEN 'keep' ELSE 'drop' END AS verdict,
        |  CASE WHEN ratios_ok = 0 THEN 'ratios'
        |       WHEN fences_ok = 0 THEN 'fences'
        |       WHEN clf_ok = 0 THEN 'classifier'
        |       WHEN lm_ok = 0 THEN 'lm' END AS first_fail
        |FROM flags ORDER BY doc_id""".stripMargin),
    // q218: the cumulative ensemble funnel over the same flags
    "q218_ensemble_funnel" -> ensembleSql(
      """, agg AS (SELECT count(*)::BIGINT AS n0,
        |  sum(ratios_ok)::BIGINT AS n1,
        |  sum(ratios_ok * fences_ok)::BIGINT AS n2,
        |  sum(ratios_ok * fences_ok * clf_ok)::BIGINT AS n3,
        |  sum(ratios_ok * fences_ok * clf_ok * lm_ok)::BIGINT AS n4
        |  FROM flags)
        |SELECT * FROM (
        |  SELECT 0 AS stage_id, 'input' AS stage, n0 AS n_kept FROM agg
        |  UNION ALL SELECT 1, 'ratios', n1 FROM agg
        |  UNION ALL SELECT 2, 'fences', n2 FROM agg
        |  UNION ALL SELECT 3, 'classifier', n3 FROM agg
        |  UNION ALL SELECT 4, 'lm', n4 FROM agg)
        |ORDER BY stage_id""".stripMargin),
    "q1_event_scan" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id > 100 AND event_type <> 'error'
        |ORDER BY event_id LIMIT 500""".stripMargin,
    "q2_latest_state" ->
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q3_filter_combo" -> filterComboSql,
    "q4_join_agg" ->
      """SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders,
        |       ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total
        |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey""".stripMargin,
    "q5_anti_join" ->
      """SELECT DISTINCT o.o_custkey FROM orders o
        |LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |WHERE c.c_custkey IS NULL ORDER BY o.o_custkey""".stripMargin,
    "q6_doc_latest" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY n_chars DESC, lang) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id LIMIT 200""".stripMargin,
    "q7_except" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag = 'R'
        |EXCEPT
        |SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linestatus = 'F'
        |ORDER BY l_orderkey, l_linenumber LIMIT 300""".stripMargin,
    "q8_revenue" -> q8Sql,
    // bucketed variant computes the identical result — same oracle
    "q50_revenue_bucketed" -> q8Sql,
    "q9_top_order" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         RANK() OVER (PARTITION BY o_custkey
        |                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk = 1 ORDER BY o_custkey""".stripMargin,
    "q10_counter" ->
      """SELECT event_type, CAST(value >= 0.5 AS INT) AS accepted,
        |       COUNT(*) AS n
        |FROM events GROUP BY event_type, CAST(value >= 0.5 AS INT)
        |ORDER BY event_type, accepted""".stripMargin,
    "q11_stalest" ->
      """SELECT event_id, epoch_us(ts) AS ts_us FROM (
        |  SELECT event_id, ts FROM events ORDER BY ts ASC, event_id
        |  LIMIT (SELECT CAST(COUNT(*) * 20 / 100 AS BIGINT) FROM events)) t
        |ORDER BY ts_us, event_id""".stripMargin,
    "q12_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS d
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q13_hash_dedup" ->
      """SELECT cnt, COUNT(*) AS n_groups FROM (
        |  SELECT MD5(CONCAT(CAST(l_partkey AS VARCHAR), '_',
        |                    CAST(l_suppkey AS VARCHAR))) AS h,
        |         COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1) t
        |GROUP BY cnt ORDER BY cnt""".stripMargin,
    "q14_coalesce" ->
      """SELECT p_partkey, COALESCE(NULLIF(p_brand, ''), p_type) AS label
        |FROM part ORDER BY p_partkey LIMIT 100""".stripMargin,
    "q15_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       ROUND(SUM(o_totalprice), 2) AS s
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""".stripMargin,
    "q16_union_priority" ->
      """SELECT * FROM (
        |  SELECT event_id AS id, 3 AS priority FROM events
        |  WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT event_id, 1 FROM events WHERE event_type = 'view') t
        |ORDER BY priority DESC, id LIMIT 200""".stripMargin,
    "q17_running" ->
      """SELECT user_id, event_id,
        |       ROUND(SUM(value) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
        |         AS running
        |FROM events WHERE user_id <= 25
        |ORDER BY user_id, event_id""".stripMargin,
    "q18_json" ->
      """SELECT json_extract_string(props, '$.k') AS k, COUNT(*) AS n
        |FROM events GROUP BY 1
        |ORDER BY n DESC, k ASC NULLS LAST""".stripMargin,
    "q19_hourly" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS w, event_type,
        |       COUNT(*) AS n, ROUND(SUM(value), 4) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin,
    "q20_sessions" ->
      """SELECT user_id, COUNT(*) AS n_sessions FROM (
        |  SELECT user_id,
        |         CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT user_id, epoch_us(ts) AS us,
        |               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS prev_us
        |        FROM events) a) t
        |WHERE new_s = 1 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q21_text_stats" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
        |       COUNT(DISTINCT source) AS srcs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q22_exact_dedup" ->
      """SELECT n_dups, COUNT(*) AS groups FROM (
        |  SELECT MD5(text) AS h, COUNT(*) AS n_dups
        |  FROM documents GROUP BY 1) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_cosine_knn" -> cosineKnn,
    "q24_snapshot" ->
      """SELECT COUNT(*) AS n, MIN(user_id) AS mn, MAX(user_id) AS mx FROM (
        |  SELECT user_id FROM (
        |    SELECT user_id,
        |           ROW_NUMBER() OVER (PARTITION BY user_id
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) t
        |  WHERE rn = 1) s""".stripMargin,
    "q25_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin,
    "q26_lang_id" -> langId,
    "q27_quality" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |       ROUND(n_chars::DOUBLE / len(string_split(text, ' ')), 4)
        |         AS avg_wlen,
        |       ROUND(len(list_distinct(string_split(text, ' ')))::DOUBLE /
        |             len(string_split(text, ' ')), 4) AS uniq_ratio
        |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin,
    "q28_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin,
    "q29_minhash_sig" -> minhashSig,
    "q31_simhash" -> simhash,
    "q32_ngram_jaccard" -> ngramJaccard,
    "q33_emb_cos_pairs" -> embCosPairs,
    "q34_ann_ivf" -> annIvf,
    "q58_ann_recall" ->
      s"""SELECT COUNT(*)::DOUBLE / 5 AS recall_at_5
         |FROM (SELECT vec_id FROM ($annIvf) ivf
         |      INTERSECT
         |      SELECT vec_id FROM ($cosineKnn) ex) t""".stripMargin,
    // The CDC fold (SURVEY §2.8) over the mapped events log: a row is alive
    // iff its last mint outlives its last burn; field values are the last
    // applying setter at-or-after that mint — DuckDB's ordered last() FILTER
    // replays exactly what the per-token state machine computes.
    "q35_cdc_fold" ->
      """WITH m AS (
        |  SELECT event_id AS seq,
        |    CASE event_type WHEN 'signup' THEN 'mint' WHEN 'click' THEN 'transfer'
        |         WHEN 'purchase' THEN 'put' WHEN 'view' THEN 'remove'
        |         ELSE 'burn' END AS msg,
        |    'T' || (event_id % 1000) AS tid,
        |    'u' || ((user_id + 7) % 200) AS rcpt,
        |    CAST(FLOOR(value * 100) AS BIGINT) || 'token' AS pr
        |  FROM events),
        |tok AS (
        |  SELECT tid, MAX(CASE WHEN msg = 'mint' THEN seq END) AS m_seq,
        |         MAX(CASE WHEN msg = 'burn' THEN seq END) AS b_seq
        |  FROM m GROUP BY tid),
        |alive AS (
        |  SELECT tid, m_seq FROM tok
        |  WHERE m_seq IS NOT NULL AND (b_seq IS NULL OR m_seq > b_seq)),
        |post AS (
        |  SELECT m.* FROM m JOIN alive a USING (tid) WHERE m.seq >= a.m_seq)
        |SELECT tid AS "tokenId",
        |  last(rcpt ORDER BY seq) FILTER (WHERE msg IN ('mint', 'transfer'))
        |    AS "ownerAddress",
        |  COALESCE(last(CASE msg WHEN 'put' THEN 1 ELSE 0 END ORDER BY seq)
        |    FILTER (WHERE msg IN ('mint', 'put', 'remove')), 0) AS "status",
        |  COALESCE(last(CASE msg WHEN 'put' THEN pr ELSE '' END ORDER BY seq)
        |    FILTER (WHERE msg IN ('mint', 'put', 'remove')), '') AS "price"
        |FROM post GROUP BY tid ORDER BY tid""".stripMargin,
    "q36_parse_coin" ->
      """WITH c AS (
        |  SELECT event_id,
        |    CASE WHEN value < 0.1 THEN ''
        |         ELSE CAST(FLOOR(value * 100) AS BIGINT) || 'token'
        |    END AS coin
        |  FROM events)
        |SELECT event_id,
        |  -- BIGINT, not DECIMAL(38,0): pandas renders DuckDB decimals as
        |  -- float64 but Spark parquet decimals as Decimal objects, so the
        |  -- driver's value hash diverges on type alone (r01/r02 q36 fail).
        |  CAST(NULLIF(regexp_extract(coin, '^(\d+)', 1), '')
        |       AS BIGINT) AS amount,
        |  NULLIF(regexp_extract(coin, '^\d+(\D+.*)$', 1), '') AS denom
        |FROM c ORDER BY event_id LIMIT 500""".stripMargin,
    "q40_nested" -> nestedSql,
    // the QueryBuilder-served requests are row-identical to q3/q40 by
    // construction (one compiled plan, QueryBuilderSpec pins it), so
    // they replay those oracles verbatim — the bm25Oracle sharing
    // pattern for the Hasura-analog front end
    "q90_qb_filter" -> filterComboSql,
    "q91_qb_nested" -> nestedSql,
    "q44_emb_lsh_pairs" -> embLshPairsSql,
    // int8 quantization: unrounded scale drives the error; outputs floored
    // (tie-free). The squared-error sum stays a LIST fold (list_sum), not
    // SUM over unnest — element order then matches Spark's sequential
    // aggregate() bit-for-bit, so flooring is safe at any granularity.
    "q53_quantize_i8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding AS v,
        |         127.0 / GREATEST(
        |           list_max(list_transform(embedding, x -> abs(x::DOUBLE))),
        |           1e-12) AS scale
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, scale,
        |         list_sum(list_transform(v, x ->
        |           POW(x::DOUBLE - GREATEST(-127.0, LEAST(127.0,
        |                 FLOOR(x::DOUBLE * scale + 0.5))) / scale, 2)))
        |           AS sse,
        |         len(v) AS n
        |  FROM s)
        |SELECT vec_id, FLOOR(scale * 1e4) / 1e4 AS scale,
        |       FLOOR(COALESCE(sse, 0) / n * 1e10) / 1e4 AS mse_ppm
        |FROM m ORDER BY vec_id""".stripMargin,
    "q54_hash_split" ->
      s"""WITH h AS (
         |  SELECT lang,
         |    ${ddbHash("CAST(doc_id AS VARCHAR) || '#0'")} % 10 AS b
         |  FROM documents)
         |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |            ELSE 'test' END AS split,
         |       COUNT(*) AS n, COUNT(DISTINCT lang) AS langs
         |FROM h GROUP BY 1 ORDER BY split""".stripMargin,
    "q57_zorder_scan" ->
      """SELECT COUNT(*) AS n, ROUND(SUM(value), 4) AS sv,
        |       MIN(event_id) AS mn, MAX(event_id) AS mx
        |FROM events
        |WHERE user_id BETWEEN 40 AND 80
        |  AND event_id BETWEEN 1000 AND 3000""".stripMargin,
    "q61_variant_agg" ->
      """SELECT event_type,
        |       COUNT(json_extract(props, '$.k')) AS n,
        |       SUM(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sk,
        |       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS mn,
        |       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS mx
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q59_pii_redact" -> {
      val pat = graft.queries.TextQueries.emailPattern.replace("'", "''")
      s"""WITH d AS (
         |  SELECT doc_id,
         |         'contact u' || doc_id ||
         |         '@example.com or admin@test.org ' || text AS raw
         |  FROM documents)
         |SELECT doc_id,
         |       len(regexp_extract_all(raw, '$pat')) AS n_redacted,
         |       md5(regexp_replace(raw, '$pat', '[EMAIL]', 'g'))
         |         AS redacted_md5
         |FROM d ORDER BY doc_id LIMIT 300""".stripMargin
    },
    // q136: the multi-class PII pass — same synthesized PII, same
    // patterns (the engine constants ride in verbatim), same
    // email → IP → phone redaction order; 'g' for global replace
    "q136_pii_classes" -> {
      val em = graft.queries.TextQueries.emailPattern.replace("'", "''")
      val ph = graft.queries.TextQueries.phonePattern.replace("'", "''")
      val ip = graft.queries.TextQueries.ipPattern.replace("'", "''")
      s"""WITH d AS (
         |  SELECT doc_id,
         |         'call 555-' ||
         |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |         ' or ping 10.1.2.' || CAST(doc_id % 256 AS VARCHAR) ||
         |         ' mail u' || doc_id || '@example.com ' || text AS raw
         |  FROM documents ORDER BY doc_id LIMIT 300)
         |SELECT doc_id,
         |       len(regexp_extract_all(raw, '$em'))::BIGINT AS n_email,
         |       len(regexp_extract_all(raw, '$ph'))::BIGINT AS n_phone,
         |       len(regexp_extract_all(raw, '$ip'))::BIGINT AS n_ip,
         |       md5(regexp_replace(regexp_replace(regexp_replace(raw,
         |         '$em', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'),
         |         '$ph', '[PHONE]', 'g')) AS redacted_md5
         |FROM d ORDER BY doc_id""".stripMargin
    },
    // q137: NFC canonicalization — DuckDB's nfc_normalize implements
    // the same Unicode algorithm as java.text.Normalizer; the
    // decomposed fixture (chr(769)/chr(776) combining marks) must
    // compose identically or the md5 hash-fails
    "q137_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         'Cafe' || chr(769) || ' nai' || chr(776) || 've ' ||
        |           text AS raw
        |  FROM documents ORDER BY doc_id LIMIT 300)
        |SELECT doc_id,
        |       length(raw)::BIGINT AS len_raw,
        |       length(nfc_normalize(raw))::BIGINT AS len_nfc,
        |       md5(nfc_normalize(raw)) AS nfc_md5
        |FROM d ORDER BY doc_id""".stripMargin,
    "q141_fuzzy_bm25" -> fuzzyBm25,
    // q143: bottom-k similarity to the own-label centroid — centroid
    // dims rounded to 8 so the replay is summation-order-insensitive
    "q143_label_outliers" ->
      """WITH ex AS (
        |  SELECT vec_id, label, unnest(embedding)::DOUBLE AS x,
        |         generate_subscripts(embedding,1) AS i
        |  FROM embeddings),
        |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
        |nx AS (SELECT e.vec_id, e.label, e.i,
        |         e.x / NULLIF(nr.nrm, 0) AS x
        |       FROM ex e JOIN nr ON nr.vec_id = e.vec_id),
        |cent AS (SELECT label, i, ROUND(AVG(x), 8) AS m
        |         FROM nx GROUP BY 1, 2),
        |sim AS (SELECT nx.vec_id, nx.label,
        |          ROUND(SUM(nx.x * cent.m), 4) AS centroid_sim
        |        FROM nx JOIN cent ON cent.label = nx.label
        |                         AND cent.i = nx.i
        |        GROUP BY 1, 2)
        |SELECT vec_id, label, centroid_sim
        |FROM sim ORDER BY centroid_sim, vec_id LIMIT 10""".stripMargin,
    // q161: the salted join must answer exactly like the plain join
    "q161_salted_skew_join" ->
      """WITH dim AS (SELECT event_type, ROUND(AVG(value), 4)
        |               AS type_avg
        |             FROM events GROUP BY 1)
        |SELECT e.event_type, COUNT(*)::BIGINT AS n,
        |       SUM(CASE WHEN e.value > d.type_avg THEN 1
        |                ELSE 0 END)::BIGINT AS n_above,
        |       MAX(d.type_avg) AS type_avg
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q162: Tukey fences — quantile_cont matches Spark's exact
    // interpolated percentile (the q71 contract)
    "q162_outlier_fences" ->
      """WITH d AS (SELECT lang,
        |             len(string_split(text, ' '))::DOUBLE AS nt
        |           FROM documents),
        |f AS (SELECT lang,
        |        quantile_cont(nt, 0.25) AS q1,
        |        quantile_cont(nt, 0.75) AS q3
        |      FROM d GROUP BY 1),
        |g AS (SELECT lang, q1 - 1.5 * (q3 - q1) AS lo,
        |             q3 + 1.5 * (q3 - q1) AS hi FROM f)
        |SELECT d.lang, COUNT(*)::BIGINT AS n,
        |       SUM(CASE WHEN d.nt < g.lo OR d.nt > g.hi THEN 1
        |                ELSE 0 END)::BIGINT AS n_outliers,
        |       ROUND(MAX(g.lo), 4) AS lo, ROUND(MAX(g.hi), 4) AS hi
        |FROM d JOIN g USING (lang)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q160: cascade forget replay — parents out by predicate,
    // children out by membership in the doomed key set
    "q160_cascade_forget" ->
      """WITH doomed AS (
        |  SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'MACHINERY' AND c_custkey <= 30),
        |c AS (SELECT c_custkey FROM customer
        |      WHERE NOT (c_mktsegment = 'MACHINERY'
        |                 AND c_custkey <= 30)),
        |o AS (SELECT o_orderkey FROM orders
        |      WHERE o_orderkey <= 50000
        |        AND o_custkey NOT IN (SELECT c_custkey FROM doomed))
        |SELECT 'customer' AS tbl, COUNT(*)::BIGINT AS n,
        |       SUM(c_custkey)::BIGINT AS k_sum FROM c
        |UNION ALL
        |SELECT 'orders', COUNT(*)::BIGINT, SUM(o_orderkey)::BIGINT
        |FROM o ORDER BY tbl""".stripMargin,
    // q156: change feed replay — full outer join of the two states,
    // op from null-sides / IS DISTINCT FROM, delete carries BEFORE
    "q156_change_feed" ->
      """WITH b AS (SELECT c_custkey, c_mktsegment, c_acctbal
        |           FROM customer),
        |a AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CASE WHEN c_mktsegment = 'BUILDING'
        |              THEN c_acctbal + 100.0 ELSE c_acctbal END
        |           AS c_acctbal
        |  FROM customer WHERE c_custkey > 10
        |  UNION ALL VALUES (999001, 'NEW', 1.0), (999002, 'NEW', 2.0)),
        |d AS (
        |  SELECT CASE WHEN b.c_custkey IS NULL THEN 'insert'
        |              WHEN a.c_custkey IS NULL THEN 'delete'
        |              WHEN a.c_mktsegment IS DISTINCT FROM b.c_mktsegment
        |                OR a.c_acctbal IS DISTINCT FROM b.c_acctbal
        |              THEN 'update' END AS op,
        |         COALESCE(a.c_custkey, b.c_custkey) AS k,
        |         CASE WHEN a.c_custkey IS NULL THEN b.c_acctbal
        |              ELSE a.c_acctbal END AS bal
        |  FROM b FULL OUTER JOIN a ON a.c_custkey = b.c_custkey)
        |SELECT op, COUNT(*)::BIGINT AS n, SUM(k)::BIGINT AS k_sum,
        |       ROUND(SUM(bal), 2) AS bal_sum
        |FROM d WHERE op IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    // q154: cohort retention — distinct (user, week) activity joined
    // to each user's first week; offsets are exact multiples of 7
    "q154_cohort_retention" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w
        |  FROM events),
        |fu AS (SELECT user_id, MIN(w) AS cw FROM e GROUP BY 1)
        |SELECT epoch_us(cw) AS cohort,
        |       (date_diff('day', cw::DATE, w::DATE) // 7)::BIGINT
        |         AS week_offset,
        |       COUNT(DISTINCT e.user_id)::BIGINT AS n_users
        |FROM e JOIN fu USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q155: the funnel's chained window minima replay verbatim — a
    // later step's gate reads the earlier step's window column
    "q155_event_funnel" ->
      """WITH x AS (
        |  SELECT user_id, event_type, ts,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id) AS t1
        |  FROM events),
        |y AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1
        |                     THEN ts END)
        |              OVER (PARTITION BY user_id) AS t2
        |  FROM x),
        |z AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2
        |                     THEN ts END)
        |              OVER (PARTITION BY user_id) AS t3
        |  FROM y),
        |agg AS (
        |  SELECT
        |    COUNT(DISTINCT CASE WHEN t1 IS NOT NULL
        |                        THEN user_id END)::BIGINT AS n_view,
        |    COUNT(DISTINCT CASE WHEN t2 IS NOT NULL
        |                        THEN user_id END)::BIGINT AS n_click,
        |    COUNT(DISTINCT CASE WHEN t3 IS NOT NULL
        |                        THEN user_id END)::BIGINT AS n_purchase
        |  FROM z)
        |SELECT n_view, n_click, n_purchase,
        |       ROUND(n_click::DOUBLE / n_view, 4) AS r_view_click,
        |       ROUND(n_purchase::DOUBLE / n_click, 4)
        |         AS r_click_purchase
        |FROM agg""".stripMargin,
    // q153: object relationship replay — a plain join; the object
    // column is the struct JSON, ordering via the joined name
    "q153_object_rel" ->
      """SELECT o.o_orderkey, o.o_totalprice,
        |       to_json({'c_name': c.c_name,
        |                'c_mktsegment': c.c_mktsegment}) AS customer
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |WHERE o.o_totalprice > 450000.0
        |  AND c.c_mktsegment = 'BUILDING'
        |ORDER BY c.c_name DESC, o.o_orderkey
        |LIMIT 40""".stripMargin,
    // q152: incremental view replay — the one-shot aggregate over
    // base + both deltas (redelivered b1 must not appear twice)
    "q152_incremental_agg" ->
      """SELECT o_custkey, COUNT(*)::BIGINT AS n,
        |       ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice,
        |       MAX(o_totalprice) AS max_o_totalprice
        |FROM orders WHERE o_orderkey <= 220000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q151: dedup retention — q62's recursive-CTE components, the
    // q27 unique-ratio score, argmax per cluster via row_number
    // q196: agreement retention — q151's keep-best machinery over the
    // AGREED pair graph (minhash md5 est>=0.5 ∩ simhash d<=3 on the
    // pair key); both pair pipelines replay natively, the closure and
    // keep-best are q151's
    "q196_agreement_retention" -> {
      val mins = (0 until 8).map(j =>
        s"MIN(${ddbHash(s"sh||'#$j'")}) AS s$j").mkString(",\n   ")
      val agree = (0 until 8)
        .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val bandEq = (0 until 4).map(bq =>
        s"(a.s${2 * bq} = b.s${2 * bq} AND " +
          s"a.s${2 * bq + 1} = b.s${2 * bq + 1})")
        .mkString(" OR ")
      s"""WITH RECURSIVE $simhashPairCtes,
         |d2 AS (SELECT doc_id, text FROM documents
         |       ORDER BY doc_id LIMIT 1000),
         |toks2 AS (
         |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
         |         generate_subscripts(string_split(text,' '),1) AS i
         |  FROM d2),
         |sh2 AS (
         |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
         |  FROM toks2 a
         |  JOIN toks2 b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |  JOIN toks2 c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
         |m2 AS (SELECT doc_id,
         |   $mins
         |  FROM sh2 GROUP BY doc_id),
         |mp AS (SELECT a.doc_id AS a, b.doc_id AS b
         |       FROM m2 a JOIN m2 b
         |         ON a.doc_id < b.doc_id AND ($bandEq)
         |       WHERE ($agree) / 8.0 >= 0.5),
         |ag AS (SELECT mp.a, mp.b FROM mp
         |       JOIN p ON p.a = mp.a AND p.b = mp.b),
         |e AS (SELECT a AS id, b AS nb FROM ag
         |      UNION ALL SELECT b, a FROM ag),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id),
         |sc AS (SELECT doc_id,
         |         ROUND(len(list_distinct(string_split(text, ' ')))
         |           ::DOUBLE / len(string_split(text, ' ')), 4) AS score
         |       FROM documents),
         |mm AS (SELECT comp.canonical, comp.id AS doc_id, sc.score,
         |        ROW_NUMBER() OVER (PARTITION BY comp.canonical
         |          ORDER BY sc.score DESC, comp.id) AS rn
         |      FROM comp JOIN sc ON sc.doc_id = comp.id)
         |SELECT canonical,
         |       MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
         |       MAX(CASE WHEN rn = 1 THEN score END) AS kept_score,
         |       (COUNT(*) - 1)::BIGINT AS n_dropped
         |FROM mm GROUP BY canonical ORDER BY canonical""".stripMargin
    },
    // q197: root scalar aliases — the answer carries the RESPONSE
    // keys; the ORDER BY references the source column the alias
    // renamed away (Hasura orders by table columns, not response keys)
    "q197_alias_read" ->
      """SELECT c_custkey AS id, c_acctbal AS balance, c_mktsegment,
        |       'customer' AS t
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 25""".stripMargin,
    // q198: aliased stream fields — q183's page-cut shape with the
    // response keys renamed (the cursor still pages on event_id)
    "q198_alias_stream" ->
      """WITH f AS (
        |  SELECT event_id, event_type, value,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM events
        |  WHERE event_id > 3000 AND event_type = 'view')
        |SELECT CAST((rn - 1) // 7 AS BIGINT) AS batch_idx,
        |       event_id AS id, event_type AS kind, value AS v
        |FROM f WHERE rn <= 21""".stripMargin,
    // q199: sibling relationships at depth — the items fold and the
    // object lookup replay as independent joins re-grouped once; a
    // cross-multiplied sibling fan-out changes the arrays and
    // hash-fails
    // q206: the ABSENT object relationship renders "cust":null —
    // DuckDB's to_json includes null struct members, so a dropped key
    // (Spark's ignoreNullFields default) or an empty object hash-fails
    // q207: add-one bigram LM predictability — DuckDB retrains the
    // model from the same split with the same integer-scaled smoothed
    // probabilities (1e9*(c+1) // (cp+V), exact long arithmetic), so
    // a drifted count, split, vocab, or smoothing denominator flips
    // the held-out scores. Lists are 1-based; list_zip of the two
    // offset slices pairs (w[i], w[i+1]) without a lateral.
    "q207_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')),
        |      ' ') AS w
        |  FROM documents),
        |bgz AS (
        |  SELECT doc_id,
        |    unnest(list_zip(w[1:len(w) - 1], w[2:len(w)])) AS z
        |  FROM t WHERE len(w) >= 2),
        |bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bgz),
        |train AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
        |test AS (SELECT * FROM bg WHERE doc_id % 5 = 0),
        |cbg AS (SELECT w1, w2, count(*) AS c FROM train GROUP BY 1, 2),
        |cpfx AS (SELECT w1, count(*) AS c FROM train GROUP BY 1),
        |v AS (SELECT count(DISTINCT x) AS v FROM
        |  (SELECT w1 AS x FROM train UNION SELECT w2 FROM train)),
        |terms AS (
        |  SELECT test.doc_id,
        |    (1000000000::BIGINT * (COALESCE(cbg.c, 0) + 1))
        |      // (COALESCE(cpfx.c, 0) + v.v) AS term
        |  FROM test
        |  LEFT JOIN cbg ON cbg.w1 = test.w1 AND cbg.w2 = test.w2
        |  LEFT JOIN cpfx ON cpfx.w1 = test.w1
        |  CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round((sum(term)::DOUBLE / count(*)) / 1e9, 9) AS score
        |FROM terms GROUP BY doc_id
        |ORDER BY score, doc_id LIMIT 10""".stripMargin,
    // q210: relationship-only read — one rendered array column; the
    // row order follows the UNSELECTED root sort column
    "q210_rel_only_read" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderkey) AS rn
        |  FROM orders WHERE o_orderstatus = 'F'),
        |ord AS (
        |  SELECT o_custkey,
        |         to_json(list({'k': o_orderkey} ORDER BY o_orderkey))
        |           AS orders
        |  FROM r WHERE rn <= 2 GROUP BY o_custkey)
        |SELECT COALESCE(ord.orders, '[]') AS orders
        |FROM customer c
        |LEFT JOIN ord ON ord.o_custkey = c.c_custkey
        |WHERE c.c_custkey <= 15
        |ORDER BY c.c_custkey""".stripMargin,
    // q209: mutation returning with relationships — the oracle
    // replays the post-increment balances and rebuilds each
    // customer's top-3 open-order array independently
    "q209_returning_rels" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderkey) AS rn
        |  FROM orders WHERE o_orderstatus = 'O'),
        |ord AS (
        |  SELECT o_custkey,
        |         to_json(list({'k': o_orderkey} ORDER BY o_orderkey))
        |           AS orders
        |  FROM r WHERE rn <= 3 GROUP BY o_custkey)
        |SELECT c.c_custkey, round(c.c_acctbal + 100, 2) AS bal,
        |       COALESCE(ord.orders, '[]') AS orders
        |FROM customer c
        |LEFT JOIN ord ON ord.o_custkey = c.c_custkey
        |WHERE c.c_custkey <= 20
        |ORDER BY c.c_custkey""".stripMargin,
    // q208: multi-root batching — each root replays independently,
    // the union is keyed by the response alias
    "q208_multi_root" ->
      """WITH topc AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  ORDER BY c_custkey LIMIT 5),
        |bigo AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_totalprice >= 200000 ORDER BY o_orderkey LIMIT 5),
        |one AS (
        |  SELECT c_custkey, c_name FROM customer WHERE c_custkey = 7),
        |agg AS (
        |  SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F')
        |SELECT * FROM (
        |  SELECT 'agg' AS root, to_json({'count': n}) AS row_json
        |  FROM agg
        |  UNION ALL
        |  SELECT 'topc' AS root,
        |    to_json({'c_custkey': c_custkey,
        |             'c_mktsegment': c_mktsegment}) AS row_json
        |  FROM topc
        |  UNION ALL
        |  SELECT 'bigo', to_json({'o_orderkey': o_orderkey,
        |                          'o_orderstatus': o_orderstatus})
        |  FROM bigo
        |  UNION ALL
        |  SELECT 'one', to_json({'c_custkey': c_custkey,
        |                         'c_name': c_name})
        |  FROM one)
        |ORDER BY root, row_json""".stripMargin,
    // q212: a `_stream` root batched with reads in one subscription —
    // the stream part is the q145 row_number page replay (first 3
    // pages of 7 past cursor 3000), rendered to the same row_json
    // union as q208; the @skip-ed decoy stream contributes nothing
    "q212_mixed_stream_roots" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type AS et,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM events
        |  WHERE event_id > 3000 AND event_type = 'click'),
        |topc AS (
        |  SELECT c_custkey, c_name FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  ORDER BY c_custkey LIMIT 5),
        |agg AS (
        |  SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F')
        |SELECT * FROM (
        |  SELECT 'ev' AS root,
        |    to_json({'batch_idx': CAST((rn - 1) // 7 AS BIGINT),
        |             'event_id': event_id, 'user_id': user_id,
        |             'et': et}) AS row_json
        |  FROM ev WHERE rn <= 21
        |  UNION ALL
        |  SELECT 'topc', to_json({'c_custkey': c_custkey,
        |                          'c_name': c_name})
        |  FROM topc
        |  UNION ALL
        |  SELECT 'agg', to_json({'count': n}) FROM agg)
        |ORDER BY root, row_json""".stripMargin,
    // q213: recursive nested inserts — the replay unions the literal
    // rows at their STITCHED keys (c_nationkey 990 from the nation
    // parent, o_custkey 999201 from the depth-2 customer, o_custkey
    // 999203 from the object-relationship stitch) into the same
    // per-customer read-back; a mis-stitched level detaches and the
    // counts differ
    "q213_deep_insert" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey FROM customer
        |  UNION ALL SELECT 999201, 990
        |  UNION ALL SELECT 999202, 990
        |  UNION ALL SELECT 999203, 990),
        |ords AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey <= 200000
        |  UNION ALL SELECT 999301, 999201, 100.0
        |  UNION ALL SELECT 999302, 999201, 200.0
        |  UNION ALL SELECT 999303, 999203, 300.0),
        |tot AS (
        |  SELECT (SELECT count(*) FROM cust) AS n_cust_total,
        |         (SELECT count(*) FROM ords) AS n_ord_total)
        |SELECT c.c_custkey, c.c_nationkey,
        |       count(o.o_orderkey)::BIGINT AS n_orders,
        |       round(sum(o.o_totalprice), 2) AS tot,
        |       n_cust_total, n_ord_total
        |FROM cust c LEFT JOIN ords o ON o.o_custkey = c.c_custkey
        |CROSS JOIN tot
        |WHERE c.c_custkey >= 999201
        |GROUP BY 1, 2, 5, 6
        |ORDER BY 1""".stripMargin,
    // q214: the jsonb update family — each range's post-state
    // composed literally around the row's own k (canonical compact
    // key-sorted text, matching the engine's serializer); rows the
    // document never matched keep their ORIGINAL fixture text
    "q214_jsonb_updates" ->
      """SELECT event_id,
        |  CASE
        |    WHEN event_id <= 8 THEN
        |      '{"k":' || json_extract_string(props, '$.k') ||
        |      ',"meta":{"x":1},"pre":1,"tags":["a","c"]}'
        |    WHEN event_id <= 10 THEN
        |      '{"k":' || json_extract_string(props, '$.k') ||
        |      ',"meta":{"x":1,"y":2},"pre":1,"tags":["a","c"]}'
        |    WHEN event_id <= 12 THEN
        |      '{"k":' || json_extract_string(props, '$.k') ||
        |      ',"meta":{"x":1,"y":2},"tags":["a","c"]}'
        |    WHEN event_id <= 15 THEN
        |      '{"k":' || json_extract_string(props, '$.k') ||
        |      ',"meta":{"x":1,"y":2},"tags":["a","b","c"]}'
        |    WHEN event_id <= 20 THEN
        |      '{"flag":7,"k":' || json_extract_string(props, '$.k') ||
        |      ',"meta":{"x":1,"y":2},"tags":["a","b","c"]}'
        |    WHEN event_id BETWEEN 30 AND 35 THEN '["x","y"]'
        |    WHEN event_id BETWEEN 36 AND 40 THEN '["x","y","z"]'
        |    ELSE props
        |  END AS props
        |FROM events WHERE event_id <= 50
        |ORDER BY event_id""".stripMargin,
    // q215: the conditional upsert — key 3 (pinned negative) takes
    // ONLY the listed column, key 5 (pinned positive) is suppressed,
    // 99904 inserts whole; totals prove nothing else moved
    "q215_conditional_upsert" ->
      """WITH post AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey = 3 THEN 'COND'
        |         ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey = 3 THEN -50.0
        |         WHEN c_custkey = 5 THEN 50.0
        |         ELSE c_acctbal END AS bal
        |  FROM customer
        |  UNION ALL SELECT 99904, 'FRESH2', 1.5),
        |tot AS (
        |  SELECT count(*)::BIGINT AS n_total,
        |         round(sum(bal), 2) AS chk FROM post)
        |SELECT c_custkey, c_mktsegment, round(bal, 2) AS bal,
        |       n_total, chk
        |FROM post CROSS JOIN tot
        |WHERE c_custkey IN (3, 5, 99904)
        |ORDER BY c_custkey""".stripMargin,
    // q220: corpus build — the ensemble's keepers through q65's
    // packing with a placement-ordered id checksum per pack
    "q220_corpus_build" -> ensembleSql(
      s""", keep AS (SELECT doc_id FROM flags
         |    WHERE ratios_ok = 1 AND fences_ok = 1
         |      AND clf_ok = 1 AND lm_ok = 1),
         |d AS (
         |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS ntok,
         |         ${ddbHash("CAST(doc_id AS VARCHAR) || '#5'")} AS h
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM keep)),
         |sh AS (SELECT doc_id, ntok, h, (h % 8)::INT AS shard FROM d),
         |c AS (SELECT doc_id, shard, ntok, h,
         |        SUM(ntok) OVER (PARTITION BY shard ORDER BY h, doc_id)
         |          - ntok AS strt
         |      FROM sh)
         |SELECT shard, (strt // 2048)::BIGINT AS pack_id,
         |       COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens,
         |       md5(string_agg(doc_id::VARCHAR, ','
         |                      ORDER BY h, doc_id)) AS ids_md5
         |FROM c GROUP BY shard, pack_id
         |ORDER BY shard, pack_id""".stripMargin),
    // q225: incremental corpus build — the oracle replays the
    // FROM-SCRATCH q220 build over the FINAL corpus (keepers minus
    // the forgotten ids); the engine's stored version-2 manifest
    // must equal it, the q152 incremental-view contract
    "q225_incremental_build" -> ensembleSql(
      s""", keep AS (SELECT doc_id FROM flags
         |    WHERE ratios_ok = 1 AND fences_ok = 1
         |      AND clf_ok = 1 AND lm_ok = 1
         |      AND doc_id NOT IN (5, 10)),
         |d AS (
         |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS ntok,
         |         ${ddbHash("CAST(doc_id AS VARCHAR) || '#5'")} AS h
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM keep)),
         |sh AS (SELECT doc_id, ntok, h, (h % 8)::INT AS shard FROM d),
         |c AS (SELECT doc_id, shard, ntok, h,
         |        SUM(ntok) OVER (PARTITION BY shard ORDER BY h, doc_id)
         |          - ntok AS strt
         |      FROM sh)
         |SELECT shard, (strt // 2048)::BIGINT AS pack_id,
         |       COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens,
         |       md5(string_agg(doc_id::VARCHAR, ','
         |                      ORDER BY h, doc_id)) AS ids_md5,
         |       2::BIGINT AS version
         |FROM c GROUP BY shard, pack_id
         |ORDER BY shard, pack_id""".stripMargin),
    // q226: incremental verdict store — the SHARED ensemble replay
    // parameterized for the two-epoch split: fences and the LM train
    // on the INIT corpus only (doc_id % 11 <> 7); init docs carry
    // batch-rule flags (held-out-only LM, inner-join fences — a
    // null-lang init doc is absent from the store, the batch
    // contract), late docs frozen-rule flags (every arrival scored,
    // unknown-fence langs pass); epoch = the stored provenance
    "q226_verdict_store" -> twoEpochEnsembleSql(
      """SELECT doc_id, ratios_ok, fences_ok, clf_ok, lm_ok,
        |  CASE WHEN ratios_ok = 1 AND fences_ok = 1 AND clf_ok = 1
        |        AND lm_ok = 1 THEN 'keep' ELSE 'drop' END AS verdict,
        |  CASE WHEN ratios_ok = 0 THEN 'ratios'
        |       WHEN fences_ok = 0 THEN 'fences'
        |       WHEN clf_ok = 0 THEN 'classifier'
        |       WHEN lm_ok = 0 THEN 'lm' END AS first_fail,
        |  CASE WHEN doc_id % 11 = 7 THEN 1 ELSE 0 END::BIGINT
        |    AS epoch
        |FROM flags ORDER BY doc_id""".stripMargin),
    // q233: the multimodal verdict/manifest chain — text ensemble
    // keepers + the three media keep-best replays (pinned hashes and
    // quality literals; canonical = min over direct neighbors, exact
    // because every fixture cluster is a clique) through the q220
    // pack fold with per-modality counts
    "q233_multimodal_build" -> {
      val withHires = graft.queries.PipelineQueries.pinnedDhashes :+
        ("m01_hires" -> 119908340784499200L)
      val ivals = hashValuesOf(withHires)
      val ipxVals = withHires.map { case (k, _) =>
        s"('$k', ${if (k == "m01_hires") 13824 else 3456})"
      }.mkString(",\n  ")
      val avals = hashValuesOf(
        graft.queries.PipelineQueries.pinnedSegmentAhashes)
      val vidPinned = graft.queries.PipelineQueries.pinnedVideoDhashes
      val vidA = vidPinned.filter(_._1.startsWith("vidA#"))
      val vcorpus = vidA ++
        vidA.take(5).map { case (k, v) =>
          (k.replace("vidA#", "vidA_cut#"), v) } ++
        vidPinned.filter(_._1.startsWith("vidC#"))
      val vvals = hashValuesOf(vcorpus)
      ensembleSql(
        s""", tk AS (SELECT doc_id FROM flags
           |    WHERE ratios_ok = 1 AND fences_ok = 1
           |      AND clf_ok = 1 AND lm_ok = 1),
           |titems AS (
           |  SELECT 'text:' || doc_id::VARCHAR AS pid,
           |         'text' AS modality,
           |         len(string_split(text, ' '))::BIGINT AS ntok
           |  FROM documents
           |  WHERE doc_id IN (SELECT doc_id FROM tk)),
           |it(key, dhash) AS (VALUES
           |  $ivals),
           |ipx(key, px) AS (VALUES
           |  $ipxVals),
           |ip AS (SELECT a.key AS a, b.key AS b
           |       FROM it a JOIN it b ON a.key < b.key
           |       WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
           |ie AS (SELECT a AS id, b AS nb FROM ip
           |       UNION ALL SELECT b, a FROM ip),
           |imem AS (SELECT t2.key,
           |           LEAST(t2.key, COALESCE(MIN(ie.nb), t2.key))
           |             AS canonical
           |         FROM it t2 LEFT JOIN ie ON ie.id = t2.key
           |         GROUP BY t2.key),
           |ikeep AS (SELECT key, px FROM (
           |    SELECT m.key, q.px,
           |      ROW_NUMBER() OVER (PARTITION BY m.canonical
           |                         ORDER BY q.px DESC, m.key) AS rn
           |    FROM imem m JOIN ipx q ON q.key = m.key) WHERE rn = 1),
           |iitems AS (SELECT 'image:' || key AS pid,
           |                  'image' AS modality,
           |                  (px // 64)::BIGINT AS ntok FROM ikeep),
           |at2(key, dhash) AS (VALUES
           |  $avals),
           |aq(key, n_samples) AS (VALUES
           |  ('s1', 16000), ('s1_trim', 12000), ('s2', 16000),
           |  ('s3', 16000)),
           |asp AS (SELECT a.key AS ka, b.key AS kb
           |        FROM at2 a JOIN at2 b ON a.key < b.key
           |        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
           |ase AS (SELECT regexp_extract(ka, '^(.*)#', 1) AS va,
           |               regexp_extract(kb, '^(.*)#', 1) AS vb
           |        FROM asp),
           |av AS (SELECT CASE WHEN va < vb THEN va ELSE vb END AS a,
           |              CASE WHEN va < vb THEN vb ELSE va END AS b
           |       FROM ase WHERE va <> vb
           |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |ae AS (SELECT a AS id, b AS nb FROM av
           |       UNION ALL SELECT b, a FROM av),
           |amem AS (SELECT q.key,
           |           LEAST(q.key, COALESCE(MIN(ae.nb), q.key))
           |             AS canonical
           |         FROM aq q LEFT JOIN ae ON ae.id = q.key
           |         GROUP BY q.key),
           |akeep AS (SELECT key, n_samples FROM (
           |    SELECT m.key, q.n_samples,
           |      ROW_NUMBER() OVER (PARTITION BY m.canonical
           |                         ORDER BY q.n_samples DESC, m.key)
           |        AS rn
           |    FROM amem m JOIN aq q ON q.key = m.key) WHERE rn = 1),
           |aitems AS (SELECT 'audio:' || key AS pid,
           |                  'audio' AS modality,
           |                  (n_samples // 100)::BIGINT AS ntok
           |           FROM akeep),
           |vt(key, dhash) AS (VALUES
           |  $vvals),
           |vq(key, quality) AS (VALUES
           |  ('vidA', 20736), ('vidA_cut', 17280), ('vidC', 20736)),
           |vsp AS (SELECT a.key AS ka, b.key AS kb
           |        FROM vt a JOIN vt b ON a.key < b.key
           |        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
           |vse AS (SELECT regexp_extract(ka, '^(.*)#', 1) AS va,
           |               regexp_extract(kb, '^(.*)#', 1) AS vb
           |        FROM vsp),
           |vv AS (SELECT CASE WHEN va < vb THEN va ELSE vb END AS a,
           |              CASE WHEN va < vb THEN vb ELSE va END AS b
           |       FROM vse WHERE va <> vb
           |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |ve AS (SELECT a AS id, b AS nb FROM vv
           |       UNION ALL SELECT b, a FROM vv),
           |vmem AS (SELECT q.key,
           |           LEAST(q.key, COALESCE(MIN(ve.nb), q.key))
           |             AS canonical
           |         FROM vq q LEFT JOIN ve ON ve.id = q.key
           |         GROUP BY q.key),
           |vkeep AS (SELECT key, quality FROM (
           |    SELECT m.key, q.quality,
           |      ROW_NUMBER() OVER (PARTITION BY m.canonical
           |                         ORDER BY q.quality DESC, m.key)
           |        AS rn
           |    FROM vmem m JOIN vq q ON q.key = m.key) WHERE rn = 1),
           |vitems AS (SELECT 'video:' || key AS pid,
           |                  'video' AS modality,
           |                  (quality // 64)::BIGINT AS ntok
           |           FROM vkeep),
           |items AS (SELECT * FROM titems
           |  UNION ALL SELECT * FROM iitems
           |  UNION ALL SELECT * FROM aitems
           |  UNION ALL SELECT * FROM vitems),
           |dd AS (SELECT pid, modality, ntok,
           |         ${ddbHash("pid || '#5'")} AS h FROM items),
           |sh2 AS (SELECT *, (h % 8)::INT AS shard FROM dd),
           |cc AS (SELECT *,
           |         SUM(ntok) OVER (PARTITION BY shard
           |                         ORDER BY h, pid) - ntok AS strt
           |       FROM sh2)
           |SELECT shard, (strt // 2048)::BIGINT AS pack_id,
           |  COUNT(*) AS n_items, SUM(ntok)::BIGINT AS n_tokens,
           |  SUM(CASE WHEN modality = 'text' THEN 1 ELSE 0 END)::BIGINT
           |    AS n_text,
           |  SUM(CASE WHEN modality = 'image' THEN 1 ELSE 0 END)::BIGINT
           |    AS n_image,
           |  SUM(CASE WHEN modality = 'audio' THEN 1 ELSE 0 END)::BIGINT
           |    AS n_audio,
           |  SUM(CASE WHEN modality = 'video' THEN 1 ELSE 0 END)::BIGINT
           |    AS n_video,
           |  md5(string_agg(pid, ',' ORDER BY h, pid)) AS ids_md5
           |FROM cc GROUP BY shard, pack_id
           |ORDER BY shard, pack_id""".stripMargin)
    },
    // q231: composite-key live query — the final merged state (base
    // rollup upserted per (orderkey, linenumber) TUPLE) re-ranked
    // under the document's order/limit; a single-component fold
    // collapses an order's lines and fails on row placement
    "q231_composite_live" ->
      """WITH r AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ROUND(SUM(l_quantity), 2) AS q0, COUNT(*) AS n
        |  FROM lineitem WHERE l_orderkey <= 200 GROUP BY 1, 2),
        |st AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_orderkey % 7 = 3 THEN q0 + 100.0
        |              ELSE q0 END AS l_quantity,
        |         n
        |  FROM r)
        |SELECT l_orderkey, l_linenumber, l_quantity, n
        |FROM st WHERE n >= 2
        |ORDER BY l_quantity DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,
    // q232: frozen-model rotation — the three-epoch replay: batch
    // rules for init docs, v1-frozen rules for late-1 arrivals,
    // v2-frozen rules (trained on the GROWN corpus) for late-2;
    // epoch = the stored provenance the rotation must not disturb
    "q232_model_rotation" -> rotatedEnsembleSql(
      """SELECT doc_id, ratios_ok, fences_ok, clf_ok, lm_ok,
        |  CASE WHEN ratios_ok = 1 AND fences_ok = 1 AND clf_ok = 1
        |        AND lm_ok = 1 THEN 'keep' ELSE 'drop' END AS verdict,
        |  CASE WHEN ratios_ok = 0 THEN 'ratios'
        |       WHEN fences_ok = 0 THEN 'fences'
        |       WHEN clf_ok = 0 THEN 'classifier'
        |       WHEN lm_ok = 0 THEN 'lm' END AS first_fail,
        |  CASE WHEN doc_id % 11 = 7 THEN 1
        |       WHEN doc_id % 13 = 11 THEN 2
        |       ELSE 0 END::BIGINT AS epoch
        |FROM flags ORDER BY doc_id""".stripMargin),
    // q235: the DSAR lookup — the two-epoch verdict replay
    // restricted to the requested subject ids (the bucket-pruned
    // point read must answer exactly the stored rows, skipping
    // never-admitted ids)
    "q235_lookup_audit" -> twoEpochEnsembleSql(
      """SELECT doc_id, ratios_ok, fences_ok, clf_ok, lm_ok,
        |  CASE WHEN ratios_ok = 1 AND fences_ok = 1 AND clf_ok = 1
        |        AND lm_ok = 1 THEN 'keep' ELSE 'drop' END AS verdict,
        |  CASE WHEN ratios_ok = 0 THEN 'ratios'
        |       WHEN fences_ok = 0 THEN 'fences'
        |       WHEN clf_ok = 0 THEN 'classifier'
        |       WHEN lm_ok = 0 THEN 'lm' END AS first_fail,
        |  CASE WHEN doc_id % 11 = 7 THEN 1 ELSE 0 END::BIGINT
        |    AS epoch
        |FROM flags WHERE doc_id % 17 = 3
        |ORDER BY doc_id""".stripMargin),
    // q236: right-to-be-forgotten on the persisted IVF index — the
    // q34 pruned-probe replay (cells/probes ranked over ALL vectors:
    // the codebook keeps its centroids across a forget; re-clustering
    // is the offline rebuild) over the SURVIVING vectors, with the
    // query's self-match kept (the persisted index serves stored
    // rows as-is) and the same top-10 emitted under both phase tags:
    // the serve-time fence and the post-compaction physical state
    // must answer identically
    "q236_ivf_forget" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |         generate_subscripts(embedding,1) AS i
        |  FROM embeddings),
        |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm
        |       FROM ex GROUP BY 1),
        |dots AS (
        |  SELECT a.vec_id AS v, b.vec_id AS c, SUM(a.x * b.x) AS d
        |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id < 16
        |  GROUP BY 1, 2),
        |asg AS (
        |  SELECT v AS vec_id, c AS cell FROM (
        |    SELECT dt.v, dt.c,
        |           ROW_NUMBER() OVER (PARTITION BY dt.v
        |             ORDER BY dt.d / nc.nrm DESC, dt.c ASC) AS rn
        |    FROM dots dt JOIN nr nc ON nc.vec_id = dt.c) t
        |  WHERE rn = 1),
        |pr AS (
        |  SELECT dt.c AS cell FROM dots dt
        |  JOIN nr nc ON nc.vec_id = dt.c
        |  WHERE dt.v = 1
        |  ORDER BY dt.d / nc.nrm DESC, dt.c ASC LIMIT 4),
        |hits AS (
        |  SELECT dt.v AS vec_id,
        |         ROUND(dt.d / (nv.nrm * nq.nrm), 4) AS sim
        |  FROM dots dt
        |  JOIN asg ON asg.vec_id = dt.v
        |  JOIN pr ON pr.cell = asg.cell
        |  JOIN nr nv ON nv.vec_id = dt.v
        |  JOIN nr nq ON nq.vec_id = 1
        |  WHERE dt.c = 1 AND dt.v % 13 <> 2
        |  ORDER BY sim DESC, vec_id LIMIT 10)
        |SELECT ph.phase, h.vec_id, h.sim
        |FROM hits h
        |CROSS JOIN (VALUES ('serve_fence'), ('post_compact'))
        |  ph(phase)
        |ORDER BY ph.phase, h.sim DESC, h.vec_id""".stripMargin,
    // q237: the manifest change feed — BOTH from-scratch generations
    // (v1 = keepers minus the late batch, v2 = keepers minus the
    // forgotten ids) built over the q225 pack fold, restricted to
    // the shards the changed ids hash into, then full-outer-diffed
    // with SnapshotStore.diff's image rule (delete carries the
    // BEFORE row, insert/update the AFTER)
    "q237_manifest_feed" -> ensembleSql(
      s""", keep AS (SELECT doc_id FROM flags
         |    WHERE ratios_ok = 1 AND fences_ok = 1
         |      AND clf_ok = 1 AND lm_ok = 1),
         |d AS (
         |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS ntok,
         |         ${ddbHash("CAST(doc_id AS VARCHAR) || '#5'")} AS h
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM keep)),
         |sh AS (SELECT doc_id, ntok, h, (h % 8)::INT AS shard FROM d),
         |ch AS (SELECT DISTINCT shard FROM sh
         |       WHERE doc_id % 97 = 3 OR doc_id IN (5, 10)),
         |c1 AS (SELECT doc_id, shard, ntok, h,
         |        SUM(ntok) OVER (PARTITION BY shard ORDER BY h, doc_id)
         |          - ntok AS strt
         |      FROM sh WHERE doc_id % 97 <> 3
         |        AND shard IN (SELECT shard FROM ch)),
         |m1 AS (SELECT shard, (strt // 2048)::BIGINT AS pack_id,
         |        COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens,
         |        md5(string_agg(doc_id::VARCHAR, ','
         |                       ORDER BY h, doc_id)) AS ids_md5
         |      FROM c1 GROUP BY shard, pack_id),
         |c2 AS (SELECT doc_id, shard, ntok, h,
         |        SUM(ntok) OVER (PARTITION BY shard ORDER BY h, doc_id)
         |          - ntok AS strt
         |      FROM sh WHERE doc_id NOT IN (5, 10)
         |        AND shard IN (SELECT shard FROM ch)),
         |m2 AS (SELECT shard, (strt // 2048)::BIGINT AS pack_id,
         |        COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens,
         |        md5(string_agg(doc_id::VARCHAR, ','
         |                       ORDER BY h, doc_id)) AS ids_md5
         |      FROM c2 GROUP BY shard, pack_id)
         |SELECT * FROM (
         |  SELECT CASE WHEN m1.shard IS NULL THEN 'insert'
         |              WHEN m2.shard IS NULL THEN 'delete'
         |              WHEN m1.n_docs <> m2.n_docs
         |                OR m1.n_tokens <> m2.n_tokens
         |                OR m1.ids_md5 <> m2.ids_md5 THEN 'update'
         |         END AS op,
         |         COALESCE(m2.shard, m1.shard) AS shard,
         |         COALESCE(m2.pack_id, m1.pack_id) AS pack_id,
         |         CASE WHEN m2.shard IS NULL THEN m1.n_docs
         |              ELSE m2.n_docs END AS n_docs,
         |         CASE WHEN m2.shard IS NULL THEN m1.n_tokens
         |              ELSE m2.n_tokens END AS n_tokens,
         |         CASE WHEN m2.shard IS NULL THEN m1.ids_md5
         |              ELSE m2.ids_md5 END AS ids_md5
         |  FROM m1 FULL OUTER JOIN m2
         |    ON m1.shard = m2.shard AND m1.pack_id = m2.pack_id)
         |WHERE op IS NOT NULL
         |ORDER BY shard, pack_id""".stripMargin),
    // q234: the GDPR chain — the two-epoch verdict replay MINUS the
    // forgotten ids (sink-fed epoch 1, forget at 2, retired run,
    // auto-floor compaction; read() must serve exactly the survivors)
    "q234_gdpr_chain" -> twoEpochEnsembleSql(
      """SELECT doc_id, ratios_ok, fences_ok, clf_ok, lm_ok,
        |  CASE WHEN ratios_ok = 1 AND fences_ok = 1 AND clf_ok = 1
        |        AND lm_ok = 1 THEN 'keep' ELSE 'drop' END AS verdict,
        |  CASE WHEN ratios_ok = 0 THEN 'ratios'
        |       WHEN fences_ok = 0 THEN 'fences'
        |       WHEN clf_ok = 0 THEN 'classifier'
        |       WHEN lm_ok = 0 THEN 'lm' END AS first_fail,
        |  CASE WHEN doc_id % 11 = 7 THEN 1 ELSE 0 END::BIGINT
        |    AS epoch
        |FROM flags WHERE doc_id % 101 <> 13
        |ORDER BY doc_id""".stripMargin),
    // q227: dedup-aware mixing — the q62 recursive components feed
    // q63's per-lang window admission; only canonicals consume budget
    "q227_dedup_mix" ->
      s"""WITH RECURSIVE $simhashPairCtes,
         |e AS (SELECT a AS id, b AS nb FROM p
         |      UNION ALL SELECT b, a FROM p),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id),
         |cl AS (SELECT d.doc_id,
         |         COALESCE(c.canonical, d.doc_id) AS canonical
         |       FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |d AS (
         |  SELECT doc_id, lang,
         |         len(string_split(text,' '))::BIGINT AS ntok,
         |         ${ddbHash("CAST(doc_id AS VARCHAR) || '#1'")} AS h
         |  FROM documents),
         |j AS (SELECT d.*, cl.canonical FROM d
         |      JOIN cl USING (doc_id)),
         |adm AS (SELECT lang, ntok,
         |          SUM(ntok) OVER (PARTITION BY lang ORDER BY h, doc_id)
         |            AS cum
         |        FROM j WHERE doc_id = canonical),
         |a AS (SELECT lang, COUNT(*) AS n_docs,
         |        SUM(ntok)::BIGINT AS n_tokens
         |      FROM adm WHERE cum <= 3000 GROUP BY lang),
         |du AS (SELECT lang, COUNT(*)::BIGINT AS n_dups_skipped
         |       FROM j WHERE doc_id <> canonical GROUP BY lang)
         |SELECT a.lang, a.n_docs, a.n_tokens,
         |       COALESCE(du.n_dups_skipped, 0)::BIGINT
         |         AS n_dups_skipped
         |FROM a LEFT JOIN du USING (lang) ORDER BY a.lang""".stripMargin,
    // q228: store-driven corpus build — the q226 two-epoch verdict
    // replay's keepers through the q220/q225 pack fold
    "q228_store_build" -> twoEpochEnsembleSql(
      s""", keep AS (SELECT doc_id FROM flags
         |    WHERE ratios_ok = 1 AND fences_ok = 1
         |      AND clf_ok = 1 AND lm_ok = 1),
         |pd AS (
         |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS ntok,
         |         ${ddbHash("CAST(doc_id AS VARCHAR) || '#5'")} AS h
         |  FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM keep)),
         |sh AS (SELECT doc_id, ntok, h, (h % 8)::INT AS shard FROM pd),
         |c AS (SELECT doc_id, shard, ntok, h,
         |        SUM(ntok) OVER (PARTITION BY shard ORDER BY h, doc_id)
         |          - ntok AS strt
         |      FROM sh)
         |SELECT shard, (strt // 2048)::BIGINT AS pack_id,
         |       COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens,
         |       md5(string_agg(doc_id::VARCHAR, ','
         |                      ORDER BY h, doc_id)) AS ids_md5
         |FROM c GROUP BY shard, pack_id
         |ORDER BY shard, pack_id""".stripMargin),
    // q221: role-scoped mixed multi-root — both grants inlined: the
    // stream pages only the role's visible events, the read only its
    // visible customers
    "q221_role_mixed_roots" ->
      """WITH f AS (
        |  SELECT event_id, user_id,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM events
        |  WHERE event_id > 3000 AND event_type = 'click'),
        |c AS (
        |  SELECT c_custkey, c_name FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  ORDER BY c_custkey LIMIT 5)
        |SELECT * FROM (
        |  SELECT 'ev' AS root,
        |    to_json({'batch_idx': CAST((rn - 1) // 7 AS BIGINT),
        |             'event_id': event_id, 'user_id': user_id})
        |      AS row_json
        |  FROM f WHERE rn <= 21
        |  UNION ALL
        |  SELECT 'c', to_json({'c_custkey': c_custkey,
        |                       'c_name': c_name})
        |  FROM c)
        |ORDER BY root, row_json""".stripMargin,
    // q224: the deprecation introspection surface — update-column
    // enums from information_schema (non-key columns, the q167
    // independent-reflection discipline), query_root fields from the
    // tracked inventory; all-false flags, null reasons
    "q224_deprecation_surface" -> {
      val keyed = graft.Tables.names
        .filter(graft.api.GraphQl.fixtureSchema.keys.contains)
      val qfRows = graft.Tables.names.flatMap(t =>
        Seq(t, s"${t}_aggregate") ++
          (if (keyed.contains(t)) Seq(s"${t}_by_pk") else Nil))
        .map(f => s"('$f')").mkString(", ")
      // the advertised String comparison surface, spelled out: the
      // _similar family is the engine's ONE deprecation (r20) — it
      // appears under includeDeprecated: true with its reason and is
      // FILTERED from the defaulted list
      val scOps = Seq("_eq", "_neq", "_gt", "_gte", "_lt", "_lte",
        "_in", "_nin", "_is_null", "_like", "_nlike", "_ilike",
        "_nilike", "_similar", "_nsimilar", "_regex", "_iregex",
        "_nregex")
      val dep = Set("_similar", "_nsimilar")
      val reason = graft.api.GraphQl.SimilarDeprecation
      val scRows = scOps.map(o =>
        s"('$o', ${dep(o)})").mkString(", ")
      s"""SELECT * FROM (
         |  SELECT 'cu' AS src, column_name AS fname,
         |         false AS is_deprecated,
         |         CAST(NULL AS VARCHAR) AS deprecation_reason
         |  FROM information_schema.columns
         |  WHERE table_name = 'customer' AND column_name <> 'c_custkey'
         |  UNION ALL
         |  SELECT 'ou', column_name, false, NULL
         |  FROM information_schema.columns
         |  WHERE table_name = 'orders' AND column_name <> 'o_orderkey'
         |  UNION ALL
         |  SELECT 'qf', f, false, NULL
         |  FROM (VALUES $qfRows) AS v(f)
         |  UNION ALL
         |  SELECT 'sc_all', op, d,
         |         CASE WHEN d THEN '$reason' END
         |  FROM (VALUES $scRows) AS s1(op, d)
         |  UNION ALL
         |  SELECT 'sc_live', op, false, NULL
         |  FROM (VALUES $scRows) AS s2(op, d) WHERE NOT d)
         |ORDER BY src, fname""".stripMargin
    },
    // q223: the _cast operator — TRY_CAST replays each casted
    // predicate; the _gte leg is LEXICOGRAPHIC on the casted string
    "q223_cast_filter" ->
      """SELECT event_id, event_type AS et, props
        |FROM events
        |WHERE TRY_CAST(event_id AS VARCHAR) LIKE '%7'
        |  AND TRY_CAST(event_id AS VARCHAR) >= '29'
        |  AND TRY_CAST(props AS VARCHAR) LIKE '%4%'
        |  AND event_id <= 20000
        |ORDER BY event_id""".stripMargin,
    // q230: role-scoped composite by_pk — both point lookups with
    // the role filter inlined; the out-of-grant tuple answers zero
    "q230_role_composite_by_pk" ->
      """SELECT * FROM (
        |  SELECT 'a' AS root,
        |    to_json({'l_orderkey': l_orderkey,
        |             'l_linenumber': l_linenumber,
        |             'sk': l_suppkey}) AS row_json
        |  FROM lineitem
        |  WHERE l_orderkey = 1 AND l_linenumber = 3
        |    AND l_returnflag = 'R'
        |  UNION ALL
        |  SELECT 'b',
        |    to_json({'l_orderkey': l_orderkey,
        |             'l_linenumber': l_linenumber,
        |             'sk': l_suppkey})
        |  FROM lineitem
        |  WHERE l_orderkey = 3 AND l_linenumber = 4
        |    AND l_returnflag = 'R')
        |ORDER BY root, row_json""".stripMargin,
    // q229: composite-cursor stream — the lexicographic resume
    // predicate over the unique rollup tuple, row_number page cut
    "q229_composite_cursor" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ROUND(SUM(l_quantity), 2) AS l_quantity,
        |         COUNT(*) AS n
        |  FROM lineitem WHERE l_orderkey <= 200
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT * FROM base
        |  WHERE n >= 2
        |    AND (l_orderkey > 1
        |         OR (l_orderkey = 1 AND l_linenumber > 3))),
        |o AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber)
        |           AS rn
        |  FROM f)
        |SELECT ((rn - 1) // 9)::BIGINT AS batch_idx,
        |       l_orderkey, l_linenumber, l_quantity
        |FROM o WHERE rn <= 27
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // q222: composite primary keys — the (l_orderkey, l_linenumber)
    // rollup store replayed with per-TUPLE mutations: the by_pk inc
    // touches exactly the seed (1,901), the delete removes exactly the
    // seed (2,902), the new line (1,99) lands under the existing
    // order, the upsert overwrites the seed (3,903)'s quantity only;
    // both read roots are composite point lookups against the raw
    // table, `a` = (1,3) and `b` = (1,4) — whichever rows the scale
    // factor holds (`b` is empty at sf0.01); qty breaks (src, k1) ties
    "q222_composite_pk" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ROUND(SUM(l_quantity), 2) AS l_quantity,
        |         COUNT(*) AS n
        |  FROM lineitem WHERE l_orderkey <= 200
        |  GROUP BY 1, 2),
        |seeded AS (
        |  SELECT * FROM base
        |  UNION ALL SELECT * FROM (VALUES
        |    (1, 901, 11.0, 1), (2, 902, 22.0, 1), (3, 903, 33.0, 1))
        |    AS s(l_orderkey, l_linenumber, l_quantity, n)),
        |mut AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_orderkey = 1 AND l_linenumber = 901
        |              THEN ROUND(l_quantity + 100.0, 2)
        |              WHEN l_orderkey = 3 AND l_linenumber = 903
        |              THEN 1000.0
        |              ELSE l_quantity END AS l_quantity,
        |         n
        |  FROM seeded
        |  WHERE NOT (l_orderkey = 2 AND l_linenumber = 902)
        |  UNION ALL
        |  SELECT 1, 99, 5.0, 1),
        |store AS (
        |  SELECT 'store' AS src, l_orderkey AS k1,
        |         SUM(l_linenumber)::BIGINT AS k2,
        |         ROUND(SUM(l_quantity), 2) AS qty,
        |         COUNT(*)::BIGINT AS n
        |  FROM mut WHERE l_orderkey <= 10 GROUP BY l_orderkey),
        |reads AS (
        |  SELECT 'a' AS src, l_orderkey AS k1,
        |         l_linenumber::BIGINT AS k2,
        |         l_quantity AS qty, 1::BIGINT AS n
        |  FROM lineitem WHERE l_orderkey = 1 AND l_linenumber = 3
        |  UNION ALL
        |  SELECT 'b' AS src, l_orderkey AS k1,
        |         l_linenumber::BIGINT AS k2,
        |         l_quantity AS qty, 1::BIGINT AS n
        |  FROM lineitem WHERE l_orderkey = 1 AND l_linenumber = 4)
        |SELECT src, k1, k2, qty, n FROM store
        |UNION ALL SELECT src, k1, k2, qty, n FROM reads
        |ORDER BY src, k1, qty""".stripMargin,
    // q219: relationship-predicate mutations — the EXISTS cascade
    // replayed natively: orders of (original) BUILDING customers
    // delete, then customers with a REMAINING >=480k order re-segment
    "q219_relwhere_mutations" ->
      """WITH o0 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey <= 200000),
        |o1 AS (
        |  SELECT * FROM o0
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o0.o_custkey
        |      AND c.c_mktsegment = 'BUILDING')),
        |c1 AS (
        |  SELECT c_custkey,
        |    CASE WHEN EXISTS (SELECT 1 FROM o1
        |           WHERE o1.o_custkey = customer.c_custkey
        |             AND o1.o_totalprice >= 480000)
        |         THEN 'BIGORD' ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT c1.c_mktsegment,
        |       COUNT(DISTINCT c1.c_custkey)::BIGINT AS n_cust,
        |       COUNT(o1.o_orderkey)::BIGINT AS n_ord,
        |       ROUND(SUM(o1.o_totalprice), 2) AS ord_tot
        |FROM c1 LEFT JOIN o1 ON o1.o_custkey = c1.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q216: the advertised directive surface — constants by nature
    // (engine surface, not data); the gate pins the serve path, the
    // r18 spread locations, and the @join default
    "q216_directives" ->
      """SELECT * FROM (VALUES
        |  ('cast', 'FIELD', 'to:String!'),
        |  ('fmt', 'FIELD', 'round:Int;printf:String'),
        |  ('include', 'FIELD,FRAGMENT_SPREAD,INLINE_FRAGMENT',
        |   'if:Boolean!'),
        |  ('join', 'FIELD', 'type:String="left"'),
        |  ('skip', 'FIELD,FRAGMENT_SPREAD,INLINE_FRAGMENT',
        |   'if:Boolean!'))
        |  AS t(dname, locations, args)
        |ORDER BY dname""".stripMargin,
    "q206_absent_objrel" ->
      """SELECT c.c_custkey,
        |       to_json(list_sort(list({'k': o.o_orderkey,
        |                'cust': CASE WHEN cc.c_custkey IS NOT NULL
        |                          THEN {'seg': cc.c_mktsegment}
        |                        END})))
        |         AS orders
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |LEFT JOIN customer cc ON cc.c_custkey = o.o_custkey
        |  AND cc.c_mktsegment = 'BUILDING'
        |WHERE c.c_custkey <= 20
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin,
    "q199_sibling_rels" ->
      """WITH it AS (
        |  SELECT l_orderkey,
        |         list_sort(list({'ln': CAST(l_linenumber AS BIGINT),
        |                         'q': CAST(l_quantity AS BIGINT)}))
        |           AS items
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT c.c_custkey,
        |       to_json(list_sort(list({'k': o.o_orderkey,
        |                'items': it.items,
        |                'cust': {'nm': cc.c_name,
        |                         'seg': cc.c_mktsegment}})))
        |         AS orders
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN it ON it.l_orderkey = o.o_orderkey
        |JOIN customer cc ON cc.c_custkey = o.o_custkey
        |WHERE c.c_custkey <= 25
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin,
    // q200: the object-relationship chain — three many-to-one joins
    // re-nested with struct literals, one JSON object per order
    "q200_objrel_chain" ->
      """SELECT o.o_orderkey,
        |       to_json({'ck': c.c_custkey,
        |                'nation': {'nm': n.n_name,
        |                           'region': {'rn': r.r_name}}})
        |         AS customer
        |FROM orders o
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE o.o_orderkey <= 400
        |ORDER BY o.o_orderkey""".stripMargin,
    // q201: one relationship under two aliases — the filtered arm
    // (LEFT, empty array when no line qualifies) and the
    // row_number-sliced arm replay as separate CTEs
    "q201_aliased_siblings" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |         list_sort(list({'ln': CAST(l_linenumber AS BIGINT),
        |                         'q': CAST(l_quantity AS BIGINT)}))
        |           AS big
        |  FROM lineitem WHERE l_quantity >= 30.0
        |  GROUP BY l_orderkey),
        |f2 AS (
        |  SELECT l_orderkey,
        |         list({'ln': CAST(l_linenumber AS BIGINT)}
        |              ORDER BY l_linenumber) AS first2
        |  FROM (SELECT l_orderkey, l_linenumber,
        |               row_number() OVER (PARTITION BY l_orderkey
        |                 ORDER BY l_linenumber) AS rn
        |        FROM lineitem) x
        |  WHERE rn <= 2 GROUP BY l_orderkey)
        |SELECT c.c_custkey,
        |       to_json(list_sort(list({'k': o.o_orderkey,
        |                'big': COALESCE(big.big, []),
        |                'first2': f2.first2}))) AS orders
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |LEFT JOIN big ON big.l_orderkey = o.o_orderkey
        |JOIN f2 ON f2.l_orderkey = o.o_orderkey
        |WHERE c.c_custkey <= 40
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin,
    // q204: relationship selections on _stream — the q145 cursor
    // paging with the items array (left, [] when empty) and the
    // customer object re-nested per delivered row
    "q204_stream_rels" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_custkey,
        |         row_number() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders
        |  WHERE o_orderkey > 100 AND o_orderstatus = 'O'),
        |it AS (
        |  SELECT l_orderkey,
        |         list_sort(list({'ln': CAST(l_linenumber AS BIGINT),
        |                         'q': CAST(l_quantity AS BIGINT)}))
        |           AS items
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT CAST((rn - 1) // 10 AS BIGINT) AS batch_idx,
        |       f.o_orderkey,
        |       to_json(COALESCE(it.items, [])) AS items,
        |       to_json({'nm': c.c_name}) AS customer
        |FROM f
        |LEFT JOIN it ON it.l_orderkey = f.o_orderkey
        |JOIN customer c ON c.c_custkey = f.o_custkey
        |WHERE rn <= 30
        |ORDER BY f.o_orderkey""".stripMargin,
    // q203: variable defaults — seg from the default, cap from the
    // binding (50, not the default 10)
    "q203_variable_defaults" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 50
        |ORDER BY c_custkey""".stripMargin,
    // q202: aliased aggregate relationships — each arm replays as its
    // own left-joined per-key aggregate, columns prefixed by the
    // alias; count coalesces 0 and sum 0.0 (the flat left-join
    // contract), max stays null
    "q202_aggrel_aliases" ->
      """WITH rec AS (
        |  SELECT o_custkey, COUNT(*)::BIGINT AS c,
        |         SUM(o_totalprice) AS s
        |  FROM (SELECT o_custkey, o_totalprice,
        |               row_number() OVER (PARTITION BY o_custkey
        |                 ORDER BY o_orderkey DESC) AS rn
        |        FROM orders) x
        |  WHERE rn <= 3 GROUP BY o_custkey),
        |hi AS (
        |  SELECT o_custkey, COUNT(*)::BIGINT AS c,
        |         MAX(o_totalprice) AS m
        |  FROM orders WHERE o_totalprice > 150000.0
        |  GROUP BY o_custkey)
        |SELECT cu.c_custkey,
        |       COALESCE(rec.c, 0)::BIGINT AS recent_count,
        |       ROUND(COALESCE(rec.s, 0.0), 2)
        |         AS recent_sum_o_totalprice,
        |       COALESCE(hi.c, 0)::BIGINT AS hi_count,
        |       hi.m AS hi_max_o_totalprice
        |FROM customer cu
        |LEFT JOIN rec ON rec.o_custkey = cu.c_custkey
        |LEFT JOIN hi ON hi.o_custkey = cu.c_custkey
        |WHERE cu.c_custkey <= 100
        |ORDER BY cu.c_custkey""".stripMargin,
    "q151_dedup_retention" ->
      s"""WITH RECURSIVE $simhashPairCtes,
         |e AS (SELECT a AS id, b AS nb FROM p
         |      UNION ALL SELECT b, a FROM p),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id),
         |sc AS (SELECT doc_id,
         |         ROUND(len(list_distinct(string_split(text, ' ')))
         |           ::DOUBLE / len(string_split(text, ' ')), 4) AS score
         |       FROM documents),
         |m AS (SELECT comp.canonical, comp.id AS doc_id, sc.score,
         |        ROW_NUMBER() OVER (PARTITION BY comp.canonical
         |          ORDER BY sc.score DESC, comp.id) AS rn
         |      FROM comp JOIN sc ON sc.doc_id = comp.id)
         |SELECT canonical,
         |       MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
         |       MAX(CASE WHEN rn = 1 THEN score END) AS kept_score,
         |       (COUNT(*) - 1)::BIGINT AS n_dropped
         |FROM m GROUP BY canonical ORDER BY canonical""".stripMargin,
    // q150: retrieval eval — the q126 ranking replay, then MRR and
    // binary nDCG@10 per query with IDCG from a generate_series fold
    "q150_retrieval_eval" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |         generate_subscripts(embedding,1) AS i
        |  FROM embeddings),
        |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
        |dt AS (
        |  SELECT a.vec_id AS v, b.vec_id AS qv, SUM(a.x * b.x) AS d
        |  FROM ex a JOIN ex b
        |    ON a.i = b.i AND b.vec_id < 16 AND a.vec_id >= 16
        |  GROUP BY 1, 2),
        |sims AS (
        |  SELECT qv AS q_id, v AS vec_id,
        |         ROUND(d / (nv.nrm * nq.nrm), 4) AS sim
        |  FROM dt JOIN nr nv ON nv.vec_id = v
        |          JOIN nr nq ON nq.vec_id = qv),
        |r AS (SELECT q_id, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id
        |          ORDER BY sim DESC, vec_id)::BIGINT AS rank
        |      FROM sims),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |rels AS (
        |  SELECT t.q_id, ql.label AS q_label, t.rank,
        |         CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS rel
        |  FROM r t JOIN lab nl ON nl.vec_id = t.vec_id
        |           JOIN lab ql ON ql.vec_id = t.q_id
        |  WHERE t.rank <= 10),
        |perq AS (
        |  SELECT q_id, q_label,
        |         ROUND(COALESCE(MAX(CASE WHEN rel = 1
        |             THEN 1.0 / rank END), 0), 4) AS mrr,
        |         SUM(CASE WHEN rel = 1
        |             THEN 1.0 / log2(rank + 1) ELSE 0 END) AS dcg
        |  FROM rels GROUP BY 1, 2),
        |rc AS (SELECT label, COUNT(*)::BIGINT AS r_total
        |       FROM embeddings WHERE vec_id >= 16 GROUP BY 1),
        |idcg AS (
        |  SELECT m.m, SUM(1.0 / log2(i.i + 1)) AS idcg
        |  FROM generate_series(1, 10) AS m(m)
        |  JOIN generate_series(1, 10) AS i(i) ON i.i <= m.m
        |  GROUP BY 1)
        |SELECT p.q_id, p.q_label AS label, p.mrr,
        |       ROUND(p.dcg / g.idcg, 4) AS ndcg
        |FROM perq p JOIN rc ON rc.label = p.q_label
        |JOIN idcg g ON g.m = LEAST(rc.r_total, 10)
        |ORDER BY p.q_id""".stripMargin,
    // q149: relationship-aggregate nodes — the windowed top-2 slice
    // feeds count/sum AND the JSON array, which renders in the
    // relationship's order_by ORDER (price desc, key tiebreak —
    // Hasura's nodes honor order_by); childless parents repair to
    // 0 / '[]'
    "q149_aggrel_nodes" ->
      """WITH sel AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_totalprice > 200000.0),
        |agg AS (
        |  SELECT o_custkey, COUNT(*)::BIGINT AS count,
        |         ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice,
        |         to_json(list({'o_orderkey': o_orderkey}
        |             ORDER BY o_totalprice DESC, o_orderkey))
        |           AS nodes
        |  FROM sel WHERE rn <= 2 GROUP BY 1)
        |SELECT c.c_custkey,
        |       COALESCE(a.count, 0) AS count,
        |       COALESCE(a.sum_o_totalprice, 0) AS sum_o_totalprice,
        |       COALESCE(a.nodes, '[]') AS nodes
        |FROM customer c LEFT JOIN agg a ON a.o_custkey = c.c_custkey
        |WHERE c.c_custkey <= 20
        |ORDER BY c.c_custkey""".stripMargin,
    // q148: the JSONB family in DuckDB's native spellings —
    // json_keys for key existence, TYPED scalar containment (r15:
    // json_type guards the JSON type, numbers compare numerically —
    // the engine's variant-typed jsonb semantics), a list_filter
    // emptiness check for subset containment
    "q148_jsonb_ops" ->
      """SELECT event_id, event_type, props FROM events
        |WHERE list_contains(json_keys(props), 'k')
        |  AND (list_contains(json_keys(props), 'k')
        |       OR list_contains(json_keys(props), 'zz'))
        |  AND json_type(props, '$.k') IN ('BIGINT','UBIGINT','DOUBLE')
        |  AND TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) = 69
        |  AND len(list_filter(json_keys(props),
        |        x -> x NOT IN ('k', 'extra'))) = 0
        |  AND (NOT list_contains(json_keys(props), 'k')
        |       OR (json_type(props, '$.k')
        |             IN ('BIGINT','UBIGINT','DOUBLE')
        |           AND TRY_CAST(json_extract_string(props, '$.k')
        |             AS DOUBLE) = 69))
        |  AND (NOT list_contains(json_keys(props), 'extra')
        |       OR (json_type(props, '$.extra')
        |             IN ('BIGINT','UBIGINT','DOUBLE')
        |           AND TRY_CAST(json_extract_string(props, '$.extra')
        |             AS DOUBLE) = 1))
        |  AND NOT list_contains(json_keys(props), 'zz')
        |ORDER BY event_id LIMIT 50""".stripMargin,
    // q147: update_many replay — the two updates chain as CTEs in
    // list order (step 2's predicate sees step 1's writes)
    "q147_update_many" ->
      """WITH s1 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_acctbal < 0.0 THEN 'NEG'
        |              ELSE c_mktsegment END AS c_mktsegment,
        |         c_acctbal
        |  FROM customer),
        |s2 AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CASE WHEN c_mktsegment = 'NEG'
        |              THEN c_acctbal + 10000.0
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM s1)
        |SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
        |       ROUND(SUM(c_acctbal), 2) AS bal
        |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q146: nested insert replay — parents and FK-stitched children
    // appended as literal rows, then the same join/aggregate readback
    "q146_nested_insert" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  UNION ALL
        |  VALUES (999001, 'NEST', 10.0), (999002, 'NEST', 20.0)),
        |o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey <= 200000
        |  UNION ALL
        |  VALUES (999101, 999001, 11.0), (999102, 999001, 12.0),
        |         (999103, 999002, 13.0)),
        |tot AS (SELECT (SELECT COUNT(*) FROM c)::BIGINT AS n_cust_total,
        |               (SELECT COUNT(*) FROM o)::BIGINT AS n_ord_total)
        |SELECT c.c_custkey, COUNT(o.o_orderkey)::BIGINT AS n_orders,
        |       ROUND(SUM(o.o_totalprice), 2) AS tot,
        |       n_cust_total, n_ord_total
        |FROM c LEFT JOIN o ON o.o_custkey = c.c_custkey CROSS JOIN tot
        |WHERE c_mktsegment = 'NEST'
        |GROUP BY 1, 4, 5
        |ORDER BY 1""".stripMargin,
    // q145: Hasura `_stream` cursor paging — rows strictly past the
    // cursor in cursor order, page index = (rank-1)/batch_size over
    // the first 3 pages of 7
    "q145_stream_pages" ->
      """WITH f AS (
        |  SELECT event_id, user_id, event_type, value,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM events
        |  WHERE event_id > 3000 AND event_type = 'click')
        |SELECT CAST((rn - 1) // 7 AS BIGINT) AS batch_idx,
        |       event_id, user_id, event_type, value
        |FROM f WHERE rn <= 21""".stripMargin,
    // q144: the SLICED root aggregate — stats over exactly the
    // ordered top-50, not the whole filtered table
    "q144_sliced_aggregate" ->
      """WITH s AS (SELECT o_totalprice FROM orders
        |           WHERE o_orderstatus = 'P'
        |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 50)
        |SELECT COUNT(*)::BIGINT AS count,
        |       ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice,
        |       MIN(o_totalprice) AS min_o_totalprice
        |FROM s""".stripMargin,
    // q142: script-class counts via length-minus-stripped over the
    // SAME literal-range classes (chr() spells the prefix and ranges
    // so the SQL file stays ASCII)
    "q142_script_mix" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         chr(25968) || chr(25454) || chr(22788) || chr(29702) ||
        |         ' ' || chr(1087) || chr(1088) || chr(1080) ||
        |         chr(1084) || chr(1077) || chr(1088) || ' ' || text
        |           AS raw
        |  FROM documents ORDER BY doc_id LIMIT 300),
        |cls AS (
        |  SELECT doc_id, raw,
        |    length(raw)::BIGINT AS n_chars,
        |    (length(raw) - length(regexp_replace(raw,
        |      '[A-Za-z]', '', 'g')))::BIGINT AS n_latin,
        |    (length(raw) - length(regexp_replace(raw,
        |      '[' || chr(19968) || '-' || chr(40959) || ']', '', 'g')))
        |      ::BIGINT AS n_cjk,
        |    (length(raw) - length(regexp_replace(raw,
        |      '[' || chr(1072) || '-' || chr(1103) || chr(1040) || '-' ||
        |      chr(1071) || chr(1105) || chr(1025) || ']', '', 'g')))
        |      ::BIGINT AS n_cyrillic,
        |    (length(raw) - length(regexp_replace(raw,
        |      '[0-9]', '', 'g')))::BIGINT AS n_digit
        |  FROM d)
        |SELECT doc_id, n_chars, n_latin, n_cjk, n_cyrillic, n_digit,
        |       ROUND(n_latin::DOUBLE / n_chars, 4) AS latin_ratio
        |FROM cls ORDER BY doc_id""".stripMargin,
    // q138: the fuzzy-match ground truth pays the cross join the
    // engine's deletion-neighborhood equi-join avoids — agreement
    // proves the neighborhood is lossless for distance <= 1
    "q138_fuzzy_terms" ->
      """WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |q(term) AS (VALUES ('joinn'), ('windo'), ('hash'))
        |SELECT q.term, v.w AS word,
        |       levenshtein(q.term, v.w)::BIGINT AS dist
        |FROM q JOIN v ON levenshtein(q.term, v.w) <= 1 AND len(v.w) > 0
        |ORDER BY term, word""".stripMargin,
    // q139: explicit NULLS FIRST under a cutting limit — placement
    // decides the row set, not just the order
    "q139_nulls_order" ->
      """SELECT doc_id, nullif(source, 'src3') AS src_n
        |FROM documents
        |ORDER BY src_n ASC NULLS FIRST, doc_id LIMIT 350""".stripMargin,
    "q60_dup_ngrams" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           ORDER BY doc_id LIMIT 400),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |         generate_subscripts(string_split(text,' '),1) AS i
        |  FROM d),
        |sh AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM toks a
        |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2)
        |SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
        |       ROUND(1.0 - COUNT(DISTINCT sh)::DOUBLE / COUNT(*), 4)
        |         AS dup_frac
        |FROM sh GROUP BY doc_id ORDER BY doc_id LIMIT 300""".stripMargin,
    "q56_top_suppliers" ->
      """SELECT s.s_suppkey, s.s_name, n.n_name,
        |       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
        |         AS revenue
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, s.s_suppkey LIMIT 100""".stripMargin,
    "q55_stratified_sample" ->
      s"""WITH h AS (
         |  SELECT lang,
         |    CASE WHEN ${ddbHash("CAST(doc_id AS VARCHAR) || '#1'")} % 100 < 10
         |         THEN 1 ELSE 0 END AS sel
         |  FROM documents)
         |SELECT lang, SUM(sel)::BIGINT AS n_sampled, COUNT(*) AS n_total,
         |       ROUND(SUM(sel)::DOUBLE / COUNT(*), 4) AS rate
         |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "q51_minhash_pairs_md5" -> minhashPairsMd5,
    "q185_text_store_search" -> textStoreSearchSql,
    "q186_simhash_store_search" -> simhashStoreSearchSql,
    "q187_text_kernel_agreement" -> textKernelAgreementSql,
    "q190_forget_compaction" -> forgetCompactionSql,
    // q195: ordering by an aggregate of a row-filtered table — the
    // analyst's orders grant (status O) inlined inside the hidden
    // ordering aggregate, count null-repaired to 0, segment filter on
    // the root
    "q195_filtered_order_agg" ->
      """SELECT c.c_custkey, c.c_name
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, COUNT(o_custkey) AS n
        |           FROM orders WHERE o_orderstatus = 'O'
        |           GROUP BY o_custkey) o
        |  ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY COALESCE(o.n, 0) DESC, c.c_custkey
        |LIMIT 100""".stripMargin,
    // q194: the bucket-pruned forget answers exactly like q190's full
    // recompaction — one shared oracle (q90/q91's shared-oracle
    // pattern: same semantics, different machinery under test)
    "q194_pruned_forget" -> forgetCompactionSql,
    // q191: fragments on the _stream surface — the chosen
    // subscription's q145-style cursor replay with the fragment's
    // @skip'd user_id dropped ($hide = true keeps event_id and value)
    "q191_fragment_stream" ->
      """WITH f AS (
        |  SELECT event_id, value,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM events
        |  WHERE event_id > 3000 AND event_type = 'click')
        |SELECT CAST((rn - 1) // 7 AS BIGINT) AS batch_idx,
        |       event_id, value
        |FROM f WHERE rn <= 21""".stripMargin,
    // q193: q184's live twin — the RelPred role filter served
    // through the ACTUAL streaming fold over a bounded one-trigger
    // feed (first 200 post-cursor clicks); visibility applies before
    // the page cut, so the flat row_number numbering replays the live
    // pagesDone numbering exactly
    "q193_stream_live_rel_filter" ->
      """WITH feed AS (
        |  SELECT event_id, user_id, value FROM events
        |  WHERE event_id > 3000 AND event_type = 'click'
        |  ORDER BY event_id LIMIT 200),
        |f AS (
        |  SELECT event_id, user_id, value,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM feed e
        |  WHERE EXISTS (SELECT 1 FROM customer c
        |                WHERE c.c_custkey = e.user_id
        |                  AND c.c_mktsegment = 'BUILDING'))
        |SELECT CAST((rn - 1) // 7 AS BIGINT) AS batch_idx,
        |       event_id, user_id, value
        |FROM f""".stripMargin,
    // q192: the fragment-spelled aggregate answers exactly like
    // q132's inline document (same where, aggregates, nodes render)
    "q192_fragment_aggregate" ->
      """SELECT COUNT(*)::BIGINT AS count,
        |       ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice,
        |       to_json(list_sort(list({'o_orderkey': o_orderkey,
        |                'o_custkey': o_custkey}))) AS nodes
        |FROM orders
        |WHERE o_orderstatus = 'P' AND o_totalprice > 485000""".stripMargin,
    // q189: the export manifest recomputed from the raw table — same
    // seeded shard hash, same null-text skip rules (string_agg and
    // concat_ws both skip nulls), same doc-id content ordering
    "q189_export_manifest" ->
      s"""WITH sh AS (
         |  SELECT doc_id, text,
         |    ${ddbHash("CAST(doc_id AS VARCHAR) || '#2'")} % 8 AS shard
         |  FROM documents)
         |SELECT shard::BIGINT AS shard, COUNT(*)::BIGINT AS n_docs,
         |  SUM(CASE WHEN text IS NOT NULL
         |      THEN len(string_split(text, ' ')) END)::BIGINT
         |    AS n_tokens,
         |  md5(string_agg(md5(text), '|' ORDER BY doc_id))
         |    AS content_fp,
         |  bit_xor(${ddbHash("CAST(doc_id AS VARCHAR) || '|' || text")})
         |    AS content_xor
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,
    "q125_cross_decontam" -> crossDecontam,
    "q52_winnow_md5" -> winnowMd5,
    "q49_nested_deep" -> nestedDeepSql,
    // q97 = q49's request compiled by the query-builder front end —
    // same answer contract, same oracle
    "q97_qb_nested_deep" -> nestedDeepSql,
    // q40's nested shape composed with PER-RELATIONSHIP arguments: the
    // child carries its own where (status = open), order_by (price
    // desc, key) and limit (top 3 per parent) — the windowed top-n is
    // the SQL spelling of Hasura's nfts(where/order_by/limit) args.
    // q99 is the SAME request arriving as wire JSON through
    // RequestCodec.parse — one oracle string, so the codec cannot
    // drift from the DSL unnoticed.
    "q98_qb_child_args" -> childArgsSql,
    "q99_qb_wire" -> childArgsSql,
    // q100 is the SAME request arriving as GRAPHQL TEXT — the
    // reference endpoint's own query language — through GraphQl.parse;
    // one oracle string across DSL/JSON/GraphQL front ends.
    "q100_qb_graphql" -> childArgsSql,
    // the rest of Hasura's comparison operators, spelled natively in
    // DuckDB so the three-valued-logic semantics are pinned too
    "q101_qb_ops" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE text IS NOT NULL AND lang NOT IN ('zh', 'es')
        |  AND (source IS NULL OR source ILIKE 'SRC1%')
        |  AND source NOT LIKE '%8'
        |ORDER BY doc_id LIMIT 400""".stripMargin,
    // Hasura's distinct_on, spelled natively: first row per lang by the
    // (lang, n_chars DESC, doc_id) order — the longest doc per language
    "q102_qb_distinct_on" ->
      """SELECT DISTINCT ON (lang) doc_id, lang, n_chars
        |FROM documents
        |ORDER BY lang, n_chars DESC, doc_id""".stripMargin,
    // per-relationship distinct_on + offset/limit composed: per
    // customer the best order PER STATUS (window 1, the DISTINCT ON),
    // then a page of the representatives skipping the first (window 2,
    // the offset/limit) — two stacked per-parent row_number windows,
    // exactly how the engine compiles the child slice
    "q103_qb_child_page" ->
      """WITH reps AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey, o_orderstatus
        |           ORDER BY o_totalprice DESC, o_orderkey) AS dn
        |  FROM orders),
        |page AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey)
        |           AS rn
        |  FROM reps WHERE dn = 1)
        |SELECT c.c_custkey,
        |       to_json(list({'k': x.o_orderkey, 'st': x.o_orderstatus,
        |                'p': printf('%.2f', ROUND(x.o_totalprice, 2))}
        |               ORDER BY x.o_orderstatus, x.o_totalprice DESC,
        |                        x.o_orderkey))
        |         AS orders
        |FROM customer c
        |JOIN page x ON x.o_custkey = c.c_custkey
        |           AND x.rn > 1 AND x.rn <= 3
        |WHERE c.c_custkey <= 80
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin,
    // perceptual image dedup, PINNED: ground-truth ALL-PAIRS hamming
    // distances over the pinned fixture hashes (engine hash == literal
    // is MultimodalOpsSpec's assertion), vs the engine's banded
    // pigeonhole join — equality proves the banding lossless within
    // maxDist, with the d=5/6 decoys exercising the band-collision
    // filter
    "q104_dhash_pairs" ->
      dhashPairsSql(graft.queries.PipelineQueries.pinnedDhashes),
    // q166: two-kernel agreement — the intersection of both pinned
    // ground truths; only the true re-encode dup survives
    "q166_kernel_agreement" -> {
      val dv = hashValuesOf(graft.queries.PipelineQueries.pinnedDhashes)
      val pv = hashValuesOf(
        graft.queries.PipelineQueries.pinnedImagePhashes)
      s"""WITH td(key, h) AS (VALUES
         |  $dv),
         |tp(key, p) AS (VALUES
         |  $pv),
         |dp AS (SELECT a.key AS a, b.key AS b,
         |         bit_count(xor(a.h, b.h))::BIGINT AS d_dhash
         |       FROM td a JOIN td b ON a.key < b.key
         |       WHERE bit_count(xor(a.h, b.h)) <= 3),
         |pp AS (SELECT a.key AS a, b.key AS b,
         |         bit_count(xor(a.p, b.p))::BIGINT AS d_phash
         |       FROM tp a JOIN tp b ON a.key < b.key
         |       WHERE bit_count(xor(a.p, b.p)) <= 6)
         |SELECT dp.a, dp.b, d_dhash, d_phash
         |FROM dp JOIN pp USING (a, b) ORDER BY a, b""".stripMargin
    },
    // q167: GraphQL introspection — the engine's advertised schema
    // (served through the real parse→evaluate path, flattened to one
    // row per table type) vs DuckDB's INDEPENDENT reflection of the
    // same parquet via information_schema.columns. The CASE is the
    // verbatim inverse of GraphQl.gqlScalar; TIMESTAMP_NS covers the
    // nanos-vintage events fixture (Spark normalizes it to timestamp
    // through Tables.load either way).
    "q167_introspection" -> {
      val tables = graft.Tables.names
        .map(t => s"'$t'").mkString(", ")
      s"""SELECT table_name AS type_name, 'OBJECT' AS kind,
         |  '[' || string_agg(
         |    '{"name":"' || column_name || '","type":"' ||
         |    CASE data_type
         |      WHEN 'BIGINT' THEN 'bigint'
         |      WHEN 'INTEGER' THEN 'Int'
         |      WHEN 'VARCHAR' THEN 'String'
         |      WHEN 'DOUBLE' THEN 'float8'
         |      WHEN 'FLOAT' THEN 'Float'
         |      WHEN 'BOOLEAN' THEN 'Boolean'
         |      WHEN 'TIMESTAMP' THEN 'timestamp'
         |      WHEN 'TIMESTAMP_NS' THEN 'timestamp'
         |      WHEN 'DATE' THEN 'date'
         |      WHEN 'BLOB' THEN 'bytea'
         |      WHEN 'FLOAT[]' THEN '[Float!]'
         |    END || '"}', ',' ORDER BY ordinal_position)
         |  || ']' AS fields
         |FROM information_schema.columns
         |WHERE table_name IN ($tables)
         |GROUP BY table_name
         |ORDER BY type_name""".stripMargin
    },
    // q205: the advertised ARGUMENT surface (bool_exp/order_by input
    // objects + sum_fields aggregate arms) vs DuckDB's independent
    // reflection — q167's discipline one level deeper; same CASE
    // (the verbatim inverse of gqlScalar), arrays excluded (no
    // comparison/ordering surface), numerics = the sum arm
    // q211: the WRITE-side argument surface — insert/set/inc input
    // objects + update_column enums per KEYED table vs DuckDB's
    // independent reflection joined to the tracked key map (q205's
    // discipline applied to mutations); arrays excluded (no CASE arm),
    // relationship data arms model-only
    "q211_introspect_mut_inputs" -> {
      val keyed = graft.Tables.names
        .filter(graft.api.GraphQl.fixtureSchema.keys.contains)
      val tables = keyed.map(t => s"'$t'").mkString(", ")
      val keyRows = keyed.map(t =>
        // the fixture surface is single-key throughout (composite
        // keys are exercised by q222's own schema)
        s"('$t', '${graft.api.GraphQl.fixtureSchema.keys(t).head}')")
        .mkString(", ")
      s"""WITH cols AS (
         |  SELECT table_name AS t, column_name AS c,
         |    ordinal_position AS i,
         |    CASE data_type
         |      WHEN 'BIGINT' THEN 'bigint'
         |      WHEN 'INTEGER' THEN 'Int'
         |      WHEN 'VARCHAR' THEN 'String'
         |      WHEN 'DOUBLE' THEN 'float8'
         |      WHEN 'FLOAT' THEN 'Float'
         |      WHEN 'BOOLEAN' THEN 'Boolean'
         |      WHEN 'TIMESTAMP' THEN 'timestamp'
         |      WHEN 'TIMESTAMP_NS' THEN 'timestamp'
         |      WHEN 'DATE' THEN 'date'
         |      WHEN 'BLOB' THEN 'bytea'
         |    END AS sc,
         |    data_type IN ('BIGINT', 'INTEGER', 'DOUBLE', 'FLOAT')
         |      AS num
         |  FROM information_schema.columns
         |  WHERE table_name IN ($tables)),
         |ks AS (SELECT * FROM (VALUES $keyRows) AS v(t, k))
         |SELECT * FROM (
         |  SELECT t || '_insert_input' AS type_name,
         |    'INPUT_OBJECT' AS kind,
         |    '[' || string_agg('{"name":"' || c || '","type":"' ||
         |      sc || '"}', ',' ORDER BY i) || ']' AS fields
         |  FROM cols WHERE sc IS NOT NULL GROUP BY t
         |  UNION ALL
         |  SELECT cols.t || '_set_input', 'INPUT_OBJECT',
         |    '[' || string_agg('{"name":"' || c || '","type":"' ||
         |      sc || '"}', ',' ORDER BY i) || ']'
         |  FROM cols JOIN ks ON ks.t = cols.t
         |  WHERE sc IS NOT NULL AND c <> ks.k GROUP BY cols.t
         |  UNION ALL
         |  SELECT cols.t || '_inc_input', 'INPUT_OBJECT',
         |    '[' || string_agg('{"name":"' || c || '","type":"' ||
         |      sc || '"}', ',' ORDER BY i) || ']'
         |  FROM cols JOIN ks ON ks.t = cols.t
         |  WHERE num AND c <> ks.k GROUP BY cols.t
         |  UNION ALL
         |  SELECT cols.t || '_update_column', 'ENUM',
         |    '[' || string_agg('"' || c || '"', ',' ORDER BY i) || ']'
         |  FROM cols JOIN ks ON ks.t = cols.t
         |  WHERE sc IS NOT NULL AND c <> ks.k GROUP BY cols.t)
         |ORDER BY type_name""".stripMargin
    },
    "q205_introspect_inputs" -> {
      val tables = graft.Tables.names
        .map(t => s"'$t'").mkString(", ")
      s"""WITH cols AS (
         |  SELECT table_name AS t, column_name AS c,
         |    ordinal_position AS i,
         |    CASE data_type
         |      WHEN 'BIGINT' THEN 'bigint'
         |      WHEN 'INTEGER' THEN 'Int'
         |      WHEN 'VARCHAR' THEN 'String'
         |      WHEN 'DOUBLE' THEN 'float8'
         |      WHEN 'FLOAT' THEN 'Float'
         |      WHEN 'BOOLEAN' THEN 'Boolean'
         |      WHEN 'TIMESTAMP' THEN 'timestamp'
         |      WHEN 'TIMESTAMP_NS' THEN 'timestamp'
         |      WHEN 'DATE' THEN 'date'
         |      WHEN 'BLOB' THEN 'bytea'
         |    END AS sc,
         |    data_type IN ('BIGINT', 'INTEGER', 'DOUBLE', 'FLOAT')
         |      AS num
         |  FROM information_schema.columns
         |  WHERE table_name IN ($tables))
         |SELECT * FROM (
         |  SELECT t || '_bool_exp' AS type_name,
         |    'INPUT_OBJECT' AS kind,
         |    '[' || string_agg('{"name":"' || c || '","type":"' ||
         |      sc || '_comparison_exp"}', ',' ORDER BY i) || ']'
         |      AS fields
         |  FROM cols WHERE sc IS NOT NULL GROUP BY t
         |  UNION ALL
         |  SELECT t || '_order_by', 'INPUT_OBJECT',
         |    '[' || string_agg('{"name":"' || c ||
         |      '","type":"order_by"}', ',' ORDER BY i) || ']'
         |  FROM cols WHERE sc IS NOT NULL GROUP BY t
         |  UNION ALL
         |  SELECT t || '_sum_fields', 'OBJECT',
         |    '[' || string_agg('{"name":"' || c || '","type":"' ||
         |      sc || '"}', ',' ORDER BY i) || ']'
         |  FROM cols WHERE num GROUP BY t)
         |ORDER BY type_name""".stripMargin
    },
    // q172: image retention — the q112 recursive-CTE clusters (with
    // the upscaled copy at m01's pinned hash) composed with the
    // fixture resolutions; keep = max pixels, ties min key
    "q172_image_retention" -> {
      val withHires = graft.queries.PipelineQueries.pinnedDhashes :+
        ("m01_hires" -> 119908340784499200L)
      val px = withHires.map { case (k, _) =>
        s"('$k', ${if (k == "m01_hires") 13824 else 3456})"
      }.mkString(",\n  ")
      s"""WITH RECURSIVE t(key, dhash) AS (VALUES
         |  ${hashValuesOf(withHires)}),
         |q(key, px) AS (VALUES
         |  $px),
         |p AS (SELECT a.key AS a, b.key AS b
         |      FROM t a JOIN t b ON a.key < b.key
         |      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |e AS (SELECT a AS id, b AS nb FROM p UNION ALL SELECT b, a FROM p),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id),
         |m AS (SELECT comp.id AS key, canonical, q.px,
         |        ROW_NUMBER() OVER (PARTITION BY canonical
         |                           ORDER BY q.px DESC, comp.id) AS rn
         |      FROM comp JOIN q ON q.key = comp.id)
         |SELECT canonical,
         |       MAX(CASE WHEN rn = 1 THEN key END) AS kept_key,
         |       MAX(CASE WHEN rn = 1 THEN px END)::BIGINT AS kept_score,
         |       (COUNT(*) - 1)::BIGINT AS n_dropped
         |FROM m GROUP BY canonical ORDER BY canonical""".stripMargin
    },
    // q173: audio retention — the q115 verdict replay feeding the
    // cluster + keep-longest rule over the fixture durations
    "q173_audio_retention" -> {
      val vals = hashValuesOf(
        graft.queries.PipelineQueries.pinnedSegmentAhashes)
      s"""WITH RECURSIVE t(key, dhash) AS (VALUES
         |  $vals),
         |q(key, n_samples) AS (VALUES
         |  ('s1', 16000), ('s1_trim', 12000), ('s2', 16000),
         |  ('s3', 16000)),
         |sp AS (SELECT a.key AS ka, b.key AS kb
         |       FROM t a JOIN t b ON a.key < b.key
         |       WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |se AS (SELECT regexp_extract(ka, '^(.*)#', 1) AS va,
         |              regexp_extract(kb, '^(.*)#', 1) AS vb
         |       FROM sp),
         |v AS (SELECT CASE WHEN va < vb THEN va ELSE vb END AS a,
         |             CASE WHEN va < vb THEN vb ELSE va END AS b
         |      FROM se WHERE va <> vb
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT a AS id, b AS nb FROM v UNION ALL SELECT b, a FROM v),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id),
         |m AS (SELECT comp.id AS key, canonical, q.n_samples,
         |        ROW_NUMBER() OVER (PARTITION BY canonical
         |                           ORDER BY q.n_samples DESC, comp.id)
         |          AS rn
         |      FROM comp JOIN q ON q.key = comp.id)
         |SELECT canonical,
         |       MAX(CASE WHEN rn = 1 THEN key END) AS kept_key,
         |       MAX(CASE WHEN rn = 1 THEN n_samples END)::BIGINT
         |         AS kept_score,
         |       (COUNT(*) - 1)::BIGINT AS n_dropped
         |FROM m GROUP BY canonical ORDER BY canonical""".stripMargin
    },
    // q181: video retention — the verdict→cluster→keep-longest replay
    // over the q181 corpus's pinned per-frame hashes (vidA_cut's
    // surviving frames are pixel-identical to vidA's, so its VALUES
    // reuse vidA's pinned frame hashes)
    "q181_video_retention" -> {
      val pinned = graft.queries.PipelineQueries.pinnedVideoDhashes
      val vidA = pinned.filter(_._1.startsWith("vidA#"))
      val corpus = vidA ++
        vidA.take(5).map { case (k, v) =>
          (k.replace("vidA#", "vidA_cut#"), v) } ++
        pinned.filter(_._1.startsWith("vidC#"))
      val vals = hashValuesOf(corpus)
      s"""WITH RECURSIVE t(key, dhash) AS (VALUES
         |  $vals),
         |q(key, quality) AS (VALUES
         |  ('vidA', 20736), ('vidA_cut', 17280), ('vidC', 20736)),
         |sp AS (SELECT a.key AS ka, b.key AS kb
         |       FROM t a JOIN t b ON a.key < b.key
         |       WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |se AS (SELECT regexp_extract(ka, '^(.*)#', 1) AS va,
         |              regexp_extract(kb, '^(.*)#', 1) AS vb
         |       FROM sp),
         |v AS (SELECT CASE WHEN va < vb THEN va ELSE vb END AS a,
         |             CASE WHEN va < vb THEN vb ELSE va END AS b
         |      FROM se WHERE va <> vb
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT a AS id, b AS nb FROM v UNION ALL SELECT b, a FROM v),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id),
         |m AS (SELECT comp.id AS key, canonical, q.quality,
         |        ROW_NUMBER() OVER (PARTITION BY canonical
         |                           ORDER BY q.quality DESC, comp.id)
         |          AS rn
         |      FROM comp JOIN q ON q.key = comp.id)
         |SELECT canonical,
         |       MAX(CASE WHEN rn = 1 THEN key END) AS kept_key,
         |       MAX(CASE WHEN rn = 1 THEN quality END)::BIGINT
         |         AS kept_score,
         |       (COUNT(*) - 1)::BIGINT AS n_dropped
         |FROM m GROUP BY canonical ORDER BY canonical""".stripMargin
    },
    // q168: spectral audio pairs — all-pairs ground truth over the
    // pinned frequency-kernel hashes (the q107/q158 replay shape)
    "q168_audio_spectral_pairs" ->
      dhashPairsSql(graft.queries.PipelineQueries.pinnedToneShashes,
        maxDist = 3),
    // q169: audio two-kernel agreement — the intersection of both
    // pinned ground truths (the q166 shape); the envelope-only and
    // spectral-only matches must both drop
    "q169_audio_kernel_agreement" -> {
      val ev = hashValuesOf(graft.queries.PipelineQueries.pinnedToneAhashes)
      val sv = hashValuesOf(graft.queries.PipelineQueries.pinnedToneShashes)
      s"""WITH te(key, h) AS (VALUES
         |  $ev),
         |ts(key, p) AS (VALUES
         |  $sv),
         |ep AS (SELECT a.key AS a, b.key AS b,
         |         bit_count(xor(a.h, b.h))::BIGINT AS d_env
         |       FROM te a JOIN te b ON a.key < b.key
         |       WHERE bit_count(xor(a.h, b.h)) <= 3),
         |sp AS (SELECT a.key AS a, b.key AS b,
         |         bit_count(xor(a.p, b.p))::BIGINT AS d_spec
         |       FROM ts a JOIN ts b ON a.key < b.key
         |       WHERE bit_count(xor(a.p, b.p)) <= 3)
         |SELECT ep.a, ep.b, d_env, d_spec
         |FROM ep JOIN sp USING (a, b) ORDER BY a, b""".stripMargin
    },
    // q158: the pHash leg — ground truth over the pinned DCT hashes
    // at the d<=6 bound; p1<->p2 (d=8) and the heavy-noise copy
    // (d=10) must be filtered
    "q158_phash_pairs" ->
      dhashPairsSql(graft.queries.PipelineQueries.pinnedPhashes,
        maxDist = 6),
    // q106: the same ground-truth replay over the PER-FRAME video
    // hashes — the only <=3 pairs are the shifted-copy frames
    // (vidA#f+1 == vidB#f); vidC's d=4-8 frames band-collide but must
    // not survive the exact-distance filter
    "q106_video_frame_dedup" ->
      dhashPairsSql(graft.queries.PipelineQueries.pinnedVideoDhashes),
    // q165: the same replay under the frequency kernel — vidC's d=4-8
    // frames band-collide but must not survive the exact filter
    "q165_video_phash_dedup" ->
      dhashPairsSql(graft.queries.PipelineQueries.pinnedVideoPhashes),
    // q107: the audio leg of the triad — ground truth over the pinned
    // energy-envelope fingerprints; the d=0 pair is the half-volume
    // copy (gain invariance), the d=9 decoy must be filtered
    "q107_audio_dedup" ->
      dhashPairsSql(graft.queries.PipelineQueries.pinnedAudioDhashes),
    // q109: soundtrack dedup — ground truth over the pinned in-container
    // fingerprints (byte-identical to the q107 WAV values by
    // construction, spec-asserted); av1/av1_re meet at d=0
    "q109_av_soundtrack_dedup" ->
      dhashPairsSql(graft.queries.PipelineQueries.pinnedAvAudioDhashes),
    // q112: image dup clusters — q62's recursive-CTE reachability over
    // the pinned hashes' <=3 pair graph, canonical = MIN key, so the
    // engine's id-mapped component labels are checked id-scheme-free
    "q112_image_dup_clusters" ->
      dupClustersSql(graft.queries.PipelineQueries.pinnedDhashes),
    // q117: the same reachability over the pinned AUDIO fingerprints —
    // expected components {a1,a1_gain} {a2,a2_near} {a3,a3_near} + 4
    // singletons
    "q117_audio_dup_clusters" ->
      dupClustersSql(graft.queries.PipelineQueries.pinnedAudioDhashes),
    // q164: exact hamming top-5 against p1_noise's pinned pHash
    "q164_phash_knn" -> hammingKnnSql(
      graft.queries.PipelineQueries.pinnedPhashes,
      query = -6340691516647082415L, k = 5),
    // q163: components over the pinned pHash d<=6 graph — the heavy-
    // noise copy must stay a singleton
    "q163_phash_dup_clusters" ->
      dupClustersSql(graft.queries.PipelineQueries.pinnedPhashes,
        maxDist = 6),
    // q111: hamming kNN — exact top-5 by xor/bit_count over the pinned
    // corpus, query literal shared with the engine
    "q111_hamming_knn" -> hammingKnnSql(
      graft.queries.PipelineQueries.pinnedDhashes, 275148587264L, 5),
    // q170: the PERSISTED-store banded probe — within-radius top-k
    // over the same pinned corpus and query literal; a probe missing
    // a within-bound neighbor or surfacing a beyond-radius row fails
    "q170_store_search" -> hammingSearchSql(
      graft.queries.PipelineQueries.pinnedDhashes, 275148587264L, 5,
      maxDist = 3),
    // q182: the same probe over the bucket-partitioned serving layout
    // — same corpus/query/answer, so the oracle is shared
    "q182_partitioned_search" -> hammingSearchSql(
      graft.queries.PipelineQueries.pinnedDhashes, 275148587264L, 5,
      maxDist = 3),
    // q176: the persisted-store probe over the AUDIO space — q170's
    // within-radius contract, second modality, same query literal as
    // q116's unbounded scan
    "q176_audio_store_search" -> hammingSearchSql(
      graft.queries.PipelineQueries.pinnedAudioDhashes,
      5956182740055530213L, 5, maxDist = 3),
    // q116: the same top-5 over the pinned audio fingerprint space
    // (query = a2_near's pinned hash: rank 1 its d=0 self, rank 2 the
    // d=2 original)
    "q116_audio_knn" -> hammingKnnSql(
      graft.queries.PipelineQueries.pinnedAudioDhashes,
      5956182740055530213L, 5),
    // q113: VIDEO-LEVEL repost verdict — the frame-pair aggregation
    // replayed over the pinned per-frame hashes; expected exactly
    // (vidA, vidB, 5 frames, 1 offset, shift +1)
    "q113_video_repost" ->
      repostVerdictSql(graft.queries.PipelineQueries.pinnedVideoDhashes),
    // q114: trim-robust audio dedup — ground-truth all-pairs over the
    // pinned per-segment fingerprints; the only <=3 pairs are the trim
    // alignment (s1#i+1 == s1_trim#i at d=0), decoys at d=7-10 band-
    // collide but must not survive the exact filter
    "q114_audio_trim_dedup" ->
      dhashPairsSql(graft.queries.PipelineQueries.pinnedSegmentAhashes),
    // q115: the recording-level trim verdict over the same pinned
    // segment hashes; expected exactly (s1, s1_trim, 3, 1, 1)
    "q115_audio_trim_verdict" ->
      repostVerdictSql(graft.queries.PipelineQueries.pinnedSegmentAhashes),
    // q119: VIDEO-level dup clusters — the q113 verdict replay feeding
    // recursive reachability over whole-video nodes; expected
    // {vidA, vidB} under canonical vidA, vidC a singleton
    "q119_video_dup_clusters" -> {
      val vals = hashValuesOf(graft.queries.PipelineQueries.pinnedVideoDhashes)
      s"""WITH RECURSIVE t(key, dhash) AS (VALUES
         |  $vals),
         |p0 AS (SELECT a.key AS ka, b.key AS kb
         |       FROM t a JOIN t b ON a.key < b.key
         |       WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |e0 AS (SELECT regexp_extract(ka, '^(.*)#', 1) AS va,
         |              regexp_extract(kb, '^(.*)#', 1) AS vb
         |       FROM p0),
         |v AS (SELECT LEAST(va, vb) AS a, GREATEST(va, vb) AS b
         |      FROM e0 WHERE va <> vb
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |vids AS (SELECT DISTINCT regexp_extract(key, '^(.*)#', 1) AS id
         |         FROM t),
         |e AS (SELECT a AS id, b AS nb FROM v UNION ALL SELECT b, a FROM v),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)
         |SELECT vids.id AS key, COALESCE(c.canonical, vids.id) AS canonical,
         |       COUNT(*) OVER (
         |         PARTITION BY COALESCE(c.canonical, vids.id))::BIGINT
         |         AS cluster_size
         |FROM vids LEFT JOIN comp c ON c.id = vids.id
         |ORDER BY key""".stripMargin
    },
    // q118: the GraphQL mutation round-trip — insert/update/delete
    // replayed as pure SQL over the same parquet (CASE for _set/_inc,
    // WHERE NOT for the tombstoned delete, UNION ALL for the insert),
    // aggregated per segment exactly like the engine's read-back
    "q118_mutation_roundtrip" ->
      """WITH mutated AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey <= 10 THEN 'MUTATED'
        |              ELSE c_mktsegment END AS c_mktsegment,
        |         CASE WHEN c_custkey <= 10 THEN c_acctbal + 100.0
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM customer
        |  WHERE NOT (c_custkey > 1490 AND c_custkey <= 1499)
        |  UNION ALL
        |  SELECT 99901, 'BUILDING', 1234.56)
        |SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
        |       ROUND(SUM(c_acctbal), 2) AS bal
        |FROM mutated GROUP BY 1 ORDER BY 1""".stripMargin,
    // q121: the root <table>_aggregate read — Hasura's whole-table
    // aggregate, all three count forms + sum/min/max, spelled natively
    "q121_root_aggregate" ->
      """SELECT COUNT(*)::BIGINT AS count,
        |       COUNT(DISTINCT o_custkey)::BIGINT AS n_cust,
        |       ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice,
        |       MIN(o_totalprice) AS min_o_totalprice,
        |       MAX(o_totalprice) AS max_o_totalprice
        |FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    // q120: the on_conflict upsert — key 3's segment updates but its
    // BALANCE keeps the stored value (the replay reads the original
    // c_acctbal, so an engine overwriting it with the incoming 500.0
    // hash-fails); 99902 inserts whole
    "q120_upsert_roundtrip" ->
      """WITH mutated AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey = 3 THEN 'UPSERTED'
        |              ELSE c_mktsegment END AS c_mktsegment,
        |         c_acctbal
        |  FROM customer
        |  UNION ALL
        |  SELECT 99902, 'FRESH', 77.5)
        |SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
        |       ROUND(SUM(c_acctbal), 2) AS bal
        |FROM mutated GROUP BY 1 ORDER BY 1""".stripMargin,
    // q122: the by_pk point lookup — one key, the same columns
    // q130: the regex comparison family, spelled natively in DuckDB
    // (regexp_matches is partial-match like Postgres ~; SIMILAR TO is
    // native) — pins case-insensitivity and NOT-regex null semantics
    "q130_regex_ops" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE lang SIMILAR TO 'e(n|s)'
        |  AND regexp_matches(lang, '^e')
        |  AND regexp_matches(source, '^SRC[0-9]', 'i')
        |  AND NOT regexp_matches(source, '8$')
        |ORDER BY doc_id LIMIT 300""".stripMargin,
    // q131: the two-table document — each table's mutations replay
    // independently (CASE + WHERE NOT + UNION ALL per table), read
    // back as one summary row per table
    "q131_multi_table" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey <= 5 THEN 'XTBL'
        |              ELSE c_mktsegment END AS seg,
        |         CASE WHEN c_custkey = 7 THEN 0.0
        |              ELSE c_acctbal END AS bal
        |  FROM customer),
        |o AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey <= 200000 AND o_orderkey > 100
        |  UNION ALL SELECT 999991, 'X', 10.0)
        |SELECT 'customer' AS tbl, COUNT(*)::BIGINT AS n,
        |       COUNT(DISTINCT seg)::BIGINT AS n_cat,
        |       ROUND(SUM(bal), 2) AS chk
        |FROM c
        |UNION ALL
        |SELECT 'orders', COUNT(*)::BIGINT,
        |       COUNT(DISTINCT o_orderstatus)::BIGINT,
        |       ROUND(SUM(o_totalprice), 2)
        |FROM o
        |ORDER BY tbl""".stripMargin,
    // q132: aggregate + nodes in one response — the JSON array is
    // sorted by the leading field on both engines (list_sort /
    // sort_array), so the wire shape compares byte-exact
    "q132_agg_nodes" ->
      """SELECT COUNT(*)::BIGINT AS count,
        |       ROUND(SUM(o_totalprice), 2) AS sum_o_totalprice,
        |       to_json(list_sort(list({'o_orderkey': o_orderkey,
        |                'o_custkey': o_custkey}))) AS nodes
        |FROM orders
        |WHERE o_orderstatus = 'P' AND o_totalprice > 485000""".stripMargin,
    // q133: the relationship predicate — native EXISTS
    "q133_rel_pred" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE c_mktsegment = 'BUILDING'
        |  AND EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'O'
        |                AND o.o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,
    // q134: NOT EXISTS OR nested EXISTS-inside-EXISTS
    "q134_rel_pred_algebra" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey)
        |   OR EXISTS (SELECT 1 FROM orders o
        |              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |              WHERE o.o_custkey = c.c_custkey
        |                AND l.l_quantity >= 49)
        |ORDER BY c_custkey LIMIT 400""".stripMargin,
    // q135: aggregate ordering — the engine joins post-repaired child
    // aggregates (childless count/sum order as 0, sum rounded to 2)
    // and sorts; the replay spells the same values as subqueries
    "q135_agg_order" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE c_mktsegment = 'MACHINERY'
        |ORDER BY
        |  (SELECT COUNT(o.o_custkey) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) DESC,
        |  ROUND(COALESCE((SELECT SUM(o.o_totalprice) FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey), 0), 2) DESC,
        |  c_custkey
        |LIMIT 25""".stripMargin,
    // q140: the role-scoped read — the grant's row filters inlined at
    // both levels (segment on the root, open-status inside the
    // aggregate relationship), count null-repaired to 0
    "q140_role_scoped" ->
      """SELECT c.c_custkey, c.c_name,
        |       COALESCE(o.n_open, 0)::BIGINT AS n_open
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, COUNT(o_orderkey) AS n_open
        |           FROM orders WHERE o_orderstatus = 'O'
        |           GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 0
        |ORDER BY c.c_custkey LIMIT 200""".stripMargin,
    "q122_by_pk_read" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer WHERE c_custkey = 7""".stripMargin,
    // q123: by_pk mutations — pk_columns update (CASE) + by_pk delete
    // (WHERE NOT), read back per segment like q118
    "q123_by_pk_mutations" ->
      """WITH mutated AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey = 3 THEN 'VIP'
        |              ELSE c_mktsegment END AS c_mktsegment,
        |         CASE WHEN c_custkey = 3 THEN c_acctbal + 50.0
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey <> 5)
        |SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
        |       ROUND(SUM(c_acctbal), 2) AS bal
        |FROM mutated GROUP BY 1 ORDER BY 1""".stripMargin,
    // q124: the returning rows themselves — every negative-balance
    // customer INCLUDING the row the same document inserted (mid-
    // document visibility), at the post-_inc balance
    "q124_mutation_returning" ->
      """WITH base AS (SELECT c_custkey, c_acctbal FROM customer
        |              UNION ALL SELECT 99903, -10.0)
        |SELECT c_custkey, ROUND(c_acctbal + 1000.0, 2) AS bal
        |FROM base WHERE c_acctbal < 0.0 ORDER BY c_custkey""".stripMargin,
    // q175: role-scoped introspection — the q167 reflection with the
    // analyst grants inlined: only customer (4-column allowlist) and
    // orders (unrestricted) exist, in parquet-ordinal order
    "q175_role_scoped_introspection" -> {
      val allowed = Seq("c_custkey", "c_name", "c_acctbal",
        "c_mktsegment").map(c => s"'$c'").mkString(", ")
      s"""SELECT table_name AS type_name, 'OBJECT' AS kind,
         |  '[' || string_agg(
         |    '{"name":"' || column_name || '","type":"' ||
         |    CASE data_type
         |      WHEN 'BIGINT' THEN 'bigint'
         |      WHEN 'INTEGER' THEN 'Int'
         |      WHEN 'VARCHAR' THEN 'String'
         |      WHEN 'DOUBLE' THEN 'float8'
         |      WHEN 'TIMESTAMP' THEN 'timestamp'
         |      WHEN 'TIMESTAMP_NS' THEN 'timestamp'
         |    END || '"}', ',' ORDER BY ordinal_position)
         |  || ']' AS fields
         |FROM information_schema.columns
         |WHERE (table_name = 'orders')
         |   OR (table_name = 'customer' AND column_name IN ($allowed))
         |GROUP BY table_name
         |ORDER BY type_name""".stripMargin
    },
    // q180: per-source corpus profile — every column replayed
    // natively; SUM/COUNT spelled identically so the doubles agree
    // bit-for-bit before rounding
    "q180_source_profile" ->
      """SELECT source, COUNT(*)::BIGINT AS n_docs,
        |       COUNT(DISTINCT lang)::BIGINT AS n_langs,
        |       ROUND(SUM(n_chars)::DOUBLE / COUNT(*), 4) AS mean_chars,
        |       (COUNT(*) - COUNT(DISTINCT md5(text)))::BIGINT
        |         AS dup_docs,
        |       ROUND(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0
        |         END)::DOUBLE / COUNT(*), 6) AS short_frac
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q178: @include/@skip conditional selections — with $all=false
    // only the key and the skipped-over balance survive
    "q178_conditional_fields" -> condFieldsSql,
    // q183: directives + operationName on the STREAM surface — the
    // chosen subscription's q145-style cursor replay with the
    // @include fields dropped ($all = false keeps event_id and the
    // @skip'd event_type only)
    "q183_stream_directives" ->
      """WITH f AS (
        |  SELECT event_id, event_type,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM events
        |  WHERE event_id > 3000 AND event_type = 'click')
        |SELECT CAST((rn - 1) // 7 AS BIGINT) AS batch_idx,
        |       event_id, event_type
        |FROM f WHERE rn <= 21""".stripMargin,
    // q179: operationName selection over a multi-operation document —
    // the chosen operation IS q178's, so the oracle is shared (the
    // q90/q91 shared-oracle pattern); picking the decoy hash-fails
    "q179_operation_name" -> condFieldsSql,
    // q184: a _stream served under a relationship-predicate role
    // filter — the EXISTS grant inlined INSIDE the q145-style cursor
    // paging (filter before page cut, so row placement proves the
    // decorrelated visibility)
    "q184_stream_rel_filter" ->
      """WITH f AS (
        |  SELECT event_id, user_id, value,
        |         row_number() OVER (ORDER BY event_id) AS rn
        |  FROM events e
        |  WHERE event_id > 3000 AND event_type = 'click'
        |    AND EXISTS (SELECT 1 FROM customer c
        |                WHERE c.c_custkey = e.user_id
        |                  AND c.c_mktsegment = 'BUILDING'))
        |SELECT CAST((rn - 1) // 7 AS BIGINT) AS batch_idx,
        |       event_id, user_id, value
        |FROM f WHERE rn <= 21""".stripMargin,
    // q174: aggregate under a relationship-predicate role filter —
    // the EXISTS grant and the request's equality both inlined
    "q174_aggregate_rel_filter" ->
      """SELECT COUNT(c_custkey)::BIGINT AS n_cust,
        |       ROUND(SUM(c_acctbal), 2) AS bal_sum
        |FROM customer c
        |WHERE c_mktsegment = 'BUILDING'
        |  AND EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'O')""".stripMargin,
    // q171: the role-scoped write — q124's replay with the writer
    // role's row filter ANDed into the update scope; an engine that
    // wrote (or returned) outside the grant hash-fails
    "q171_role_scoped_mutation" ->
      """SELECT c_custkey, ROUND(c_acctbal + 1000.0, 2) AS bal
        |FROM customer
        |WHERE c_acctbal < 0.0 AND c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,
    // q126: the kNN JOIN — per-query exact top-3 replayed as a
    // row_number window over the all-pairs cosine (the ORACLE may pay
    // the window; the engine's TopKAgg pre-reduces map-side)
    "q126_knn_join" -> knnJoinSql,
    // q129: filtered kNN — the label predicate applies BEFORE the
    // top-k cut, exactly like the engine's filtered scan
    "q129_filtered_knn" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |         generate_subscripts(embedding,1) AS i
        |  FROM embeddings),
        |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
        |dt AS (
        |  SELECT a.vec_id AS v, SUM(a.x * b.x) AS d
        |  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id = 1
        |  WHERE a.vec_id <> 1
        |  GROUP BY 1)
        |SELECT dt.v AS vec_id, l.label,
        |       ROUND(dt.d / (nv.nrm * nq.nrm), 4) AS sim
        |FROM dt
        |JOIN embeddings l ON l.vec_id = dt.v
        |JOIN nr nv ON nv.vec_id = dt.v
        |JOIN nr nq ON nq.vec_id = 1
        |WHERE l.label = 3
        |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,
    "q127_ivf_knn_join" -> ivfKnnJoinSql,
    // q128: recall@3 of the IVF kNN join vs the exact one — the q58
    // eval harness applied to the JOIN shape (24 = 8 queries x k=3)
    "q128_knn_join_recall" ->
      s"""SELECT COUNT(*)::DOUBLE / 24 AS recall_at_3
         |FROM (SELECT q_id, vec_id FROM ($ivfKnnJoinSql) a
         |      INTERSECT
         |      SELECT q_id, vec_id FROM ($knnJoinSql) b) t""".stripMargin,
    // q110: cross-modal soundtrack match — ground truth over the UNION
    // of the recording and video pinned sets, side-split (recording
    // keys never start with 'av')
    "q110_soundtrack_match" -> {
      val vals = hashValuesOf(
        graft.queries.PipelineQueries.pinnedAudioDhashes ++
          graft.queries.PipelineQueries.pinnedAvAudioDhashes)
      s"""WITH t(key, dhash) AS (VALUES
         |  $vals)
         |SELECT r.key AS a, v.key AS b,
         |       bit_count(xor(r.dhash, v.dhash))::BIGINT AS d
         |FROM t r JOIN t v ON r.key NOT LIKE 'av%' AND v.key LIKE 'av%'
         |WHERE bit_count(xor(r.dhash, v.dhash)) <= 3
         |ORDER BY a, b""".stripMargin
    },
    // q108: the incremental batch-vs-store probe — ground truth is the
    // cross-split all-pairs restricted join with earliest-store-match
    // (min key) and its distance (arg_min); base keys carry no '_'
    "q108_incr_dhash_probe" -> {
      val vals = hashValuesOf(graft.queries.PipelineQueries.pinnedDhashes)
      s"""WITH t(key, dhash) AS (VALUES
         |  $vals),
         |base AS (SELECT * FROM t WHERE key NOT LIKE '%\\_%' ESCAPE '\\'),
         |batch AS (SELECT * FROM t WHERE key LIKE '%\\_%' ESCAPE '\\'),
         |m AS (SELECT b.key, s.key AS s_key,
         |        bit_count(xor(b.dhash, s.dhash))::BIGINT AS d
         |      FROM batch b JOIN base s
         |        ON bit_count(xor(b.dhash, s.dhash)) <= 3)
         |SELECT key, min(s_key) AS dup_of,
         |       arg_min(d, s_key)::BIGINT AS dist
         |FROM m GROUP BY 1 ORDER BY key""".stripMargin
    },
    // q177: incremental two-kernel agreement — the q108 cross-split
    // replay intersected across BOTH pinned hash spaces; only the
    // true re-encode survives
    "q177_incr_agreement_probe" -> {
      val dv = hashValuesOf(graft.queries.PipelineQueries.pinnedDhashes)
      val pv = hashValuesOf(
        graft.queries.PipelineQueries.pinnedImagePhashes)
      s"""WITH td(key, h) AS (VALUES
         |  $dv),
         |tp(key, p) AS (VALUES
         |  $pv),
         |db AS (SELECT * FROM td WHERE key NOT LIKE '%\\_%' ESCAPE '\\'),
         |dv AS (SELECT * FROM td WHERE key LIKE '%\\_%' ESCAPE '\\'),
         |pb AS (SELECT * FROM tp WHERE key NOT LIKE '%\\_%' ESCAPE '\\'),
         |pv AS (SELECT * FROM tp WHERE key LIKE '%\\_%' ESCAPE '\\'),
         |ca AS (SELECT v.key, b.key AS s_key,
         |         bit_count(xor(v.h, b.h))::BIGINT AS da
         |       FROM dv v JOIN db b
         |         ON bit_count(xor(v.h, b.h)) <= 3),
         |cb AS (SELECT v.key, b.key AS s_key,
         |         bit_count(xor(v.p, b.p))::BIGINT AS dbv
         |       FROM pv v JOIN pb b
         |         ON bit_count(xor(v.p, b.p)) <= 6)
         |SELECT key, min(s_key) AS dup_of,
         |       arg_min(da, s_key)::BIGINT AS dist_a,
         |       arg_min(dbv, s_key)::BIGINT AS dist_b
         |FROM ca JOIN cb USING (key, s_key)
         |GROUP BY key ORDER BY key""".stripMargin
    },
    // Hasura's statistical aggregate family, spelled natively: DuckDB's
    // own stddev_samp/stddev_pop/var_samp/var_pop over the same left
    // join. Magnitude-aware rounding (see q105's scaladoc): stddev 2
    // decimals, variance to hundreds
    "q105_qb_stat_aggs" ->
      """WITH a AS (
        |  SELECT o_custkey,
        |         COUNT(o_orderkey)::BIGINT AS n,
        |         ROUND(stddev_samp(o_totalprice), 2) AS sd,
        |         ROUND(stddev_pop(o_totalprice), 2) AS sd_pop,
        |         ROUND(var_samp(o_totalprice), -2) AS vr,
        |         ROUND(var_pop(o_totalprice), -2) AS vr_pop
        |  FROM orders GROUP BY 1)
        |SELECT c.c_custkey, COALESCE(a.n, 0) AS n,
        |       a.sd, a.sd_pop, a.vr, a.vr_pop
        |FROM customer c LEFT JOIN a ON a.o_custkey = c.c_custkey
        |WHERE c.c_custkey <= 60
        |ORDER BY c.c_custkey""".stripMargin,
    "q41_quality_ratios" -> {
      val en = graft.functions.TextFunctions.langMarkers.head._2
        .map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
         |  ROUND(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
         |        / length(text), 4) AS punct_ratio,
         |  ROUND(len(list_filter(string_split(text, ' '),
         |        t -> list_contains([$en], t)))::DOUBLE
         |        / len(string_split(text, ' ')), 4) AS stop_ratio
         |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin
    },
    "q42_bpe_tokens" -> {
      // single-quote escaping: ' → '' inside the SQL literal
      val pat = graft.queries.TextQueries.bpePattern.replace("'", "''")
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$pat')) AS n_bpe
         |FROM documents ORDER BY doc_id LIMIT 300""".stripMargin
    },
    "q45_asof_join" ->
      """WITH p AS (
        |  SELECT user_id, ts, MAX(event_id) AS p_event_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT e.event_id, p.p_event_id AS last_purchase
        |FROM events e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id LIMIT 500""".stripMargin,
    "q46_range_join" ->
      """SELECT p.event_id AS p_id, COUNT(*) AS n_in_window
        |FROM events p
        |JOIN events e ON e.user_id = p.user_id
        |  AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTE
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id ORDER BY p_id LIMIT 500""".stripMargin,
    "q47_stats" ->
      """SELECT event_type, ROUND(STDDEV_SAMP(value), 4) AS sd,
        |       ROUND(VAR_SAMP(value), 4) AS vr,
        |       ROUND(MEDIAN(value), 4) AS med
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q48_simhash_pairs" ->
      s"""WITH $simhashPairCtes
         |SELECT a, b, d FROM p ORDER BY a, b""".stripMargin,
    // Connected components over the q48 pair graph: the recursive CTE
    // computes, for every node, the set of nodes that can reach it; the
    // component canonical is the minimum reacher — exactly the fixpoint
    // min-label propagation converges to.
    "q62_dup_clusters" ->
      s"""WITH RECURSIVE $simhashPairCtes,
         |e AS (SELECT a AS id, b AS nb FROM p
         |      UNION ALL SELECT b, a FROM p),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |       COALESCE(c.canonical, d.doc_id) AS canonical,
         |       COUNT(*) OVER (
         |         PARTITION BY COALESCE(c.canonical, d.doc_id))
         |         AS cluster_size
         |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |ORDER BY doc_id""".stripMargin,
    // per-lang deterministic-hash admission until the token budget; the
    // unique (h, doc_id) ordering makes RANGE and ROWS frames identical,
    // so both engines' default window frames agree
    "q63_corpus_mix" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, len(string_split(text,' '))::BIGINT AS ntok,
         |         ${ddbHash("CAST(doc_id AS VARCHAR) || '#1'")} AS h
         |  FROM documents),
         |c AS (SELECT lang, ntok,
         |        SUM(ntok) OVER (PARTITION BY lang ORDER BY h, doc_id)
         |          AS cum
         |      FROM d)
         |SELECT lang, COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens
         |FROM c WHERE cum <= 3000 GROUP BY lang ORDER BY lang""".stripMargin,
    // q159: lang-id eval — q26's confusion counts reduced to per-
    // class precision/recall/F1 (0/0 answers NULL, never NaN)
    "q159_langid_eval" ->
      s"""$langIdCtes,
         |cm AS (SELECT lang, lang_pred, COUNT(*)::BIGINT AS n
         |       FROM p GROUP BY 1, 2),
         |act AS (SELECT lang, SUM(n)::BIGINT AS na FROM cm GROUP BY 1),
         |prd AS (SELECT lang_pred AS lang, SUM(n)::BIGINT AS np
         |        FROM cm GROUP BY 1),
         |tp AS (SELECT lang, n AS ntp FROM cm WHERE lang = lang_pred),
         |m AS (
         |  SELECT act.lang, act.na, COALESCE(tp.ntp, 0) AS ntp, prd.np
         |  FROM act LEFT JOIN prd USING (lang)
         |           LEFT JOIN tp USING (lang))
         |SELECT lang, na AS n_true,
         |       ROUND(ntp / np::DOUBLE, 4) AS precision,
         |       ROUND(ntp / na::DOUBLE, 4) AS recall,
         |       ROUND(CASE WHEN ntp / np::DOUBLE + ntp / na::DOUBLE > 0
         |             THEN 2.0 * (ntp / np::DOUBLE) * (ntp / na::DOUBLE)
         |                  / (ntp / np::DOUBLE + ntp / na::DOUBLE)
         |             END, 4) AS f1
         |FROM m ORDER BY lang""".stripMargin,
    // q157: temperature mixing — budgets from the corpus's own token
    // counts (⌊T·√n_l/Σ√n⌋, IEEE-exact both engines), then the q63
    // hash-order admission
    "q157_temperature_mix" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |         len(string_split(text,' '))::BIGINT AS ntok,
         |         ${ddbHash("CAST(doc_id AS VARCHAR) || '#1'")} AS h
         |  FROM documents),
         |lt AS (SELECT lang, SUM(ntok)::DOUBLE AS n_l
         |       FROM d GROUP BY 1),
         |z AS (SELECT SUM(SQRT(n_l)) AS z FROM lt),
         |b AS (SELECT lang,
         |        CAST(FLOOR(5000.0 * ROUND(SQRT(n_l) / z, 9))
         |             AS BIGINT) AS budget
         |      FROM lt, z),
         |c AS (SELECT d.lang, ntok, budget,
         |        SUM(ntok) OVER (PARTITION BY d.lang
         |                        ORDER BY h, doc_id) AS cum
         |      FROM d JOIN b USING (lang))
         |SELECT lang, budget, COUNT(*) AS n_docs,
         |       SUM(ntok)::BIGINT AS n_tokens
         |FROM c WHERE cum <= budget
         |GROUP BY 1, 2 ORDER BY lang""".stripMargin,
    "q64_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |             array_to_string(list_slice(w, i, i + 4), ' ') AS sh
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        |            FROM t) x),
        |e AS (SELECT DISTINCT sh FROM g WHERE doc_id < 10),
        |c AS (SELECT doc_id, sh FROM g WHERE doc_id >= 10)
        |SELECT c.doc_id, COUNT(DISTINCT c.sh) AS n_shared
        |FROM c JOIN e USING (sh)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "q65_seq_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS ntok,
         |         ${ddbHash("CAST(doc_id AS VARCHAR) || '#5'")} AS h
         |  FROM documents),
         |s AS (SELECT doc_id, ntok, h, (h % 8)::INT AS shard FROM d),
         |c AS (SELECT shard, ntok,
         |        SUM(ntok) OVER (PARTITION BY shard ORDER BY h, doc_id)
         |          - ntok AS strt
         |      FROM s)
         |SELECT shard, (strt // 2048)::BIGINT AS pack_id,
         |       COUNT(*) AS n_docs, SUM(ntok)::BIGINT AS n_tokens
         |FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin,
    // Laplace-smoothed bigram LM: corpus-level unigram/bigram counts,
    // per-doc mean -ln p(w2|w1); the %.3f render after round() keeps the
    // FP summation-order difference between engines out of the hash.
    "q66_lm_xent" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w
        |           FROM documents),
        |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, w[i] AS w1
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |             FROM t) x),
        |un AS (SELECT w1, COUNT(*)::BIGINT AS c1 FROM
        |       (SELECT unnest(w) AS w1 FROM t) u GROUP BY 1),
        |bgc AS (SELECT bg, COUNT(*)::BIGINT AS c12 FROM bg GROUP BY 1)
        |SELECT g.doc_id, COUNT(*) AS n_bigrams,
        |       printf('%.3f', ROUND(AVG(-ln((c.c12 + 1.0) /
        |         (u.c1 + (SELECT COUNT(*) FROM un)))), 3)) AS xent
        |FROM bg g JOIN bgc c USING (bg) JOIN un u USING (w1)
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    // q44's LSH pair mining replayed, then the same recursive-CTE closure
    // q62 uses, then one representative (min id) kept per component.
    "q67_semantic_dedup" ->
      s"""WITH RECURSIVE p AS ($embLshPairsSql),
         |e AS (SELECT a AS id, b AS nb FROM p UNION ALL SELECT b, a FROM p),
         |reach(id, r) AS (
         |  SELECT id, id FROM (SELECT DISTINCT id FROM e) n
         |  UNION
         |  SELECT e.nb, reach.r FROM reach JOIN e ON e.id = reach.id),
         |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id),
         |lab AS (SELECT v.vec_id, COALESCE(c.canonical, v.vec_id)
         |          AS canonical
         |        FROM embeddings v LEFT JOIN comp c ON c.id = v.vec_id)
         |SELECT canonical AS vec_id, COUNT(*)::BIGINT AS cluster_size
         |FROM lab GROUP BY 1 ORDER BY vec_id""".stripMargin,
    "q68_tfidf_topk" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
        |           FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*)::BIGINT AS tf
        |       FROM t GROUP BY 1, 2),
        |dfc AS (SELECT w, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
        |sc AS (SELECT tf.doc_id, tf.w,
        |         ROUND(tf.tf * ln((SELECT nd FROM n) / dfc.df), 6) AS s
        |       FROM tf JOIN dfc USING (w)),
        |r AS (SELECT doc_id, w, s, ROW_NUMBER() OVER (
        |        PARTITION BY doc_id ORDER BY s DESC, w) AS rk
        |      FROM sc)
        |SELECT doc_id, rk, w AS term, printf('%.3f', ROUND(s, 3)) AS score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // cumulative rule cascade; every predicate is an exact integer-ratio
    // comparison both engines compute identically
    "q69_filter_funnel" ->
      """WITH d AS (
        |  SELECT len(string_split(text,' '))::DOUBLE AS nt,
        |         n_chars::DOUBLE AS nc,
        |         len(list_distinct(string_split(text,' ')))::DOUBLE AS uq,
        |         lower(text) AS lt
        |  FROM documents),
        |f AS (SELECT nt >= 20 AND nt <= 5000 AS s1,
        |             nc / nt >= 2.0 AND nc / nt <= 6.0 AS s2,
        |             lt LIKE '% the %' AS s3,
        |             uq / nt >= 0.4 AS s4
        |      FROM d),
        |a AS (SELECT COUNT(*)::BIGINT AS n0,
        |        SUM(CASE WHEN s1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |        SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |        SUM(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END)::BIGINT
        |          AS n3,
        |        SUM(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 ELSE 0 END)
        |          ::BIGINT AS n4
        |      FROM f)
        |SELECT * FROM (
        |  SELECT 0::INT AS stage_id, 'input' AS stage, n0 AS n_kept FROM a
        |  UNION ALL SELECT 1::INT, 'length', n1 FROM a
        |  UNION ALL SELECT 2::INT, 'word_len', n2 FROM a
        |  UNION ALL SELECT 3::INT, 'stopword_en', n3 FROM a
        |  UNION ALL SELECT 4::INT, 'uniq_ratio', n4 FROM a) t
        |ORDER BY stage_id""".stripMargin,
    // q48's simhash pair mining replayed, pairs attributed to their
    // documents' sources
    "q70_dup_sources" -> {
      val bits = (0 until 32).map(b =>
        s"(CASE WHEN SUM(((h >> $b) & 1) * 2 - 1) > 0 " +
          s"THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, ${ddbHash("w")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
         |        FROM documents) t),
         |s AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh
         |      FROM tok GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b
         |      FROM s a JOIN s b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.sh, b.sh)) <= 3),
         |j AS (SELECT least(da.source, db.source) AS source_a,
         |             greatest(da.source, db.source) AS source_b
         |      FROM p JOIN documents da ON da.doc_id = p.a
         |             JOIN documents db ON db.doc_id = p.b)
         |SELECT source_a, source_b, COUNT(*)::BIGINT AS n_pairs
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q71_len_profile" ->
      """SELECT lang, COUNT(*) AS n,
        |  printf('%.2f', ROUND(quantile_cont(
        |    len(string_split(text,' '))::DOUBLE, 0.5), 2)) AS p50,
        |  printf('%.2f', ROUND(quantile_cont(
        |    len(string_split(text,' '))::DOUBLE, 0.9), 2)) AS p90,
        |  printf('%.2f', ROUND(quantile_cont(
        |    len(string_split(text,' '))::DOUBLE, 0.99), 2)) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // first BPE merge iteration: adjacent char pairs over the word-count
    // table, weighted by word frequency
    "q72_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text,' ')) AS w
        |           FROM documents),
        |wc AS (SELECT w, COUNT(*)::BIGINT AS c FROM w GROUP BY 1),
        |p AS (SELECT substr(w, i, 2) AS pair, c
        |      FROM (SELECT w, c, unnest(range(1, len(w))) AS i
        |            FROM wc) t),
        |a AS (SELECT pair, SUM(c)::BIGINT AS cnt FROM p GROUP BY 1),
        |r AS (SELECT pair, cnt,
        |        ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank
        |      FROM a)
        |SELECT rank, pair, cnt FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // stride-overlapped token windows; md5 of the joined window is the
    // content-addressed chunk identity
    "q73_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk
        |           FROM documents),
        |c AS (SELECT doc_id, len(tk) AS nt, tk,
        |        unnest(range(0, greatest(len(tk), 1), 25)) AS st
        |      FROM t)
        |SELECT doc_id, (st // 25)::BIGINT AS chunk_id,
        |       least(50, nt - st)::BIGINT AS n_tokens,
        |       md5(array_to_string(
        |         list_slice(tk, st + 1, least(st + 50, nt)), ' '))
        |         AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // asymmetric containment over trigram shingle sets with the same
    // stop-shingle cap (df <= 100) the engine applies; set sizes stay
    // uncapped
    "q74_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
        |         generate_subscripts(string_split(text,' '),1) AS i
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM toks a
        |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |  JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |kept AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh
        |                         GROUP BY sh) t WHERE df <= 100),
        |lng AS (SELECT doc_id, lang FROM documents),
        |c AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
        |  FROM sh x JOIN kept USING (sh)
        |       JOIN sh y ON y.sh = x.sh AND x.doc_id < y.doc_id
        |       JOIN lng lx ON lx.doc_id = x.doc_id
        |       JOIN lng ly ON ly.doc_id = y.doc_id AND lx.lang = ly.lang
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |       ROUND(c.c::DOUBLE / least(na.n, nb.n), 4) AS containment
        |FROM c JOIN sizes na ON na.doc_id = a
        |       JOIN sizes nb ON nb.doc_id = b
        |WHERE c.c::DOUBLE / least(na.n, nb.n) >= 0.8
        |ORDER BY a, b""".stripMargin,
    "q75_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk
        |           FROM documents),
        |c AS (SELECT doc_id, len(tk) AS nt, tk,
        |        unnest(range(0, greatest(len(tk), 1), 25)) AS st
        |      FROM t),
        |ch AS (SELECT doc_id,
        |         md5(array_to_string(
        |           list_slice(tk, st + 1, least(st + 50, nt)), ' '))
        |           AS chunk_fp
        |       FROM c)
        |SELECT chunk_fp, COUNT(DISTINCT doc_id) AS n_docs,
        |       COUNT(*) AS n_occ
        |FROM ch GROUP BY chunk_fp HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, chunk_fp""".stripMargin,
    // the bloom build+probe+confirm pipeline is exact by construction
    // (FPs removed by the confirm join), so q76 shares q64's oracle
    "q76_decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |             array_to_string(list_slice(w, i, i + 4), ' ') AS sh
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        |            FROM t) x),
        |e AS (SELECT DISTINCT sh FROM g WHERE doc_id < 10),
        |c AS (SELECT doc_id, sh FROM g WHERE doc_id >= 10)
        |SELECT c.doc_id, COUNT(DISTINCT c.sh) AS n_shared
        |FROM c JOIN e USING (sh)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // BM25 (k1=1.2, b=0.75) for the fixed query-term set; float constants
    // are the same decimal literals as the Spark plan, the rank key is the
    // 6-decimal-rounded score (absorbs ln/÷ ulp skew), display is %.3f
    "q77_bm25_topk" ->
      bm25Oracle,
    // composes q48's pair CTE with q54's split assignment verbatim —
    // off-diagonal rows are cross-split near-dup leakage
    "q83_split_leakage" ->
      s"""WITH $simhashPairCtes,
         |$splitCte,
         |j AS (SELECT least(pa.split, pb.split) AS split_a,
         |             greatest(pa.split, pb.split) AS split_b
         |      FROM p JOIN sp pa ON pa.doc_id = p.a
         |             JOIN sp pb ON pb.doc_id = p.b)
         |SELECT split_a, split_b, COUNT(*)::BIGINT AS n_pairs
         |FROM j GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin,
    // q83's composition with both pair orientations kept: train docs
    // with >= 1 near-dup partner in val/test
    "q85_train_quarantine" ->
      s"""WITH $simhashPairCtes,
         |$splitCte,
         |t AS (SELECT p.a, p.b, pa.split AS sa, pb.split AS sb
         |      FROM p JOIN sp pa ON pa.doc_id = p.a
         |             JOIN sp pb ON pb.doc_id = p.b),
         |l AS (SELECT a AS doc_id FROM t
         |      WHERE sa = 'train' AND sb <> 'train'
         |      UNION ALL
         |      SELECT b FROM t WHERE sb = 'train' AND sa <> 'train')
         |SELECT doc_id, COUNT(*)::BIGINT AS n_eval_partners
         |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the indexed probe returns exactly q77's rows (same constants, rank
    // key and tie-break), so it replays q77's oracle verbatim
    "q82_bm25_indexed" ->
      bm25Oracle,
    "q81_jl_audit" -> jlAudit,
    "q86_pq_adc" -> pqAdcSql(10),
    // q58's recall harness over the pinned-codebook ADC probe
    "q87_pq_recall_pinned" ->
      s"""SELECT COUNT(*)::DOUBLE / 5 AS recall_at_5
         |FROM (SELECT vec_id FROM (${pqAdcSql(5)}) pq
         |      INTERSECT
         |      SELECT vec_id FROM ($cosineKnn) ex) t""".stripMargin,
    // conjunctive BM25: q77's scoring restricted to docs containing ALL
    // three terms; df is per-term WITHIN the conjunctive candidate set
    // (bm25AndRank's declared semantics — self-consistent and replayable)
    "q88_bm25_and" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |            FROM documents),
        |base AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS w
        |         FROM tk),
        |tf AS (SELECT doc_id, dl, w, COUNT(*)::DOUBLE AS tf FROM base
        |       WHERE w IN ('join', 'hash', 'window') GROUP BY 1, 2, 3),
        |conj AS (SELECT * FROM tf WHERE doc_id IN (
        |          SELECT doc_id FROM tf
        |          GROUP BY 1 HAVING COUNT(DISTINCT w) = 3)),
        |dfc AS (SELECT w, COUNT(*)::DOUBLE AS df FROM conj GROUP BY 1),
        |n AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
        |ad AS (SELECT AVG(len(string_split(text, ' ')))::DOUBLE AS avgdl
        |       FROM documents),
        |sc AS (SELECT conj.doc_id,
        |         ln(((SELECT nd FROM n) - dfc.df + 0.5) / (dfc.df + 0.5)
        |            + 1.0) *
        |         (conj.tf * 2.2) /
        |         (conj.tf + 1.2 * (0.25 + 0.75 * conj.dl /
        |            (SELECT avgdl FROM ad))) AS c
        |       FROM conj JOIN dfc USING (w)),
        |agg AS (SELECT doc_id, ROUND(SUM(c), 6) AS s FROM sc GROUP BY 1),
        |r AS (SELECT doc_id, s, ROW_NUMBER() OVER (
        |        ORDER BY s DESC, doc_id)::BIGINT AS rank
        |      FROM agg)
        |SELECT rank, doc_id, printf('%.3f', ROUND(s, 3)) AS bm25
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // phrase BM25 ("hash join"): the scan-twin formulation — zipped
    // unnest gives 0-based token positions (Spark's posexplode), the
    // self-join counts in-order adjacent occurrences (tf of the one
    // virtual term), df = docs containing the phrase; scoring constants,
    // 6-decimal rank key and %.3f display are q77's verbatim
    "q89_bm25_phrase" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |            FROM documents),
        |base AS (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS w,
        |                unnest(range(len(tk))) AS pos FROM tk),
        |a AS (SELECT doc_id, dl, pos FROM base WHERE w = 'hash'),
        |b AS (SELECT doc_id, pos FROM base WHERE w = 'join'),
        |m AS (SELECT a.doc_id, a.dl, COUNT(*)::DOUBLE AS tf
        |      FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |      GROUP BY 1, 2),
        |dfc AS (SELECT COUNT(*)::DOUBLE AS df FROM m),
        |n AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
        |ad AS (SELECT AVG(len(string_split(text, ' ')))::DOUBLE AS avgdl
        |       FROM documents),
        |sc AS (SELECT doc_id,
        |         ln(((SELECT nd FROM n) - (SELECT df FROM dfc) + 0.5) /
        |            ((SELECT df FROM dfc) + 0.5) + 1.0) *
        |         (tf * 2.2) /
        |         (tf + 1.2 * (0.25 + 0.75 * dl /
        |            (SELECT avgdl FROM ad))) AS c
        |       FROM m),
        |agg AS (SELECT doc_id, ROUND(SUM(c), 6) AS s FROM sc GROUP BY 1),
        |r AS (SELECT doc_id, s, ROW_NUMBER() OVER (
        |        ORDER BY s DESC, doc_id)::BIGINT AS rank
        |      FROM agg)
        |SELECT rank, doc_id, printf('%.3f', ROUND(s, 3)) AS bm25
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // the Prometheus NumMsgs{status,msg_type} matrix over q92's mapped
    // log: every message counts Received/Common; known routes count
    // Received/MsgX; non-failed ones Accepted/MsgX. q92's failure arms
    // are stateless by construction (unknown route; purchase with
    // value<0.25 = offer without offer_id), so the oracle replays them
    // exactly — the stateful verdicts are MsgMetricsSpec's job
    "q92_msg_counters" ->
      """WITH m AS (SELECT CASE event_type
        |      WHEN 'signup' THEN 'MsgMintNFT'
        |      WHEN 'click' THEN 'MsgTransferNFT'
        |      WHEN 'purchase' THEN 'MsgMakeOffer'
        |      WHEN 'view' THEN 'MsgRemoveNFTFromMarket'
        |      ELSE NULL END AS msg_type,
        |    (event_type = 'purchase' AND value < 0.25) AS failed
        |  FROM events),
        |u AS (SELECT 'Received' AS status, 'Common' AS msg_type FROM m
        |      UNION ALL
        |      SELECT 'Received', msg_type FROM m WHERE msg_type IS NOT NULL
        |      UNION ALL
        |      SELECT 'Accepted', msg_type FROM m
        |      WHERE msg_type IS NOT NULL AND NOT failed)
        |SELECT status, msg_type, COUNT(*)::BIGINT AS n
        |FROM u GROUP BY 1, 2 ORDER BY status, msg_type""".stripMargin,
    // model-based scoring with the PINNED logistic weights (VALUES
    // table, Double.toString round-trips) — normalization, dot, bias,
    // sigmoid and the keep threshold all replayed; 4-decimal round is
    // the comparison key (exp/sum ulp absorber)
    "q94_classifier_score" -> {
      val (w, b) = graft.queries.SimilarityQueries.pinnedLogisticWeights()
      val vals = w.zipWithIndex
        .map { case (v, i) => s"(${i + 1},$v)" }.mkString(",")
      s"""WITH ex AS (
         |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         |         generate_subscripts(embedding,1) AS i
         |  FROM embeddings),
         |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
         |w AS (SELECT i, v::DOUBLE AS v FROM (VALUES $vals) t(i, v)),
         |z AS (SELECT e.vec_id,
         |         SUM((e.x / NULLIF(nr.nrm, 0)) * w.v) + $b AS z
         |      FROM ex e JOIN nr ON nr.vec_id = e.vec_id
         |                JOIN w ON w.i = e.i
         |      GROUP BY e.vec_id),
         |sc AS (SELECT vec_id, ROUND(1.0 / (1.0 + EXP(-z)), 4) AS score
         |       FROM z)
         |SELECT vec_id, score,
         |       CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS keep
         |FROM sc ORDER BY vec_id""".stripMargin
    },
    // q188: the reliability table over q94's replayed scores — the
    // 4-decimal score as an exact INTEGER drives the bin cut and the
    // order-free integer sums, so the doubles divide once identically
    "q188_calibration_bins" -> {
      val (w, b) = graft.queries.SimilarityQueries.pinnedLogisticWeights()
      val vals = w.zipWithIndex
        .map { case (v, i) => s"(${i + 1},$v)" }.mkString(",")
      s"""WITH ex AS (
         |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         |         generate_subscripts(embedding,1) AS i
         |  FROM embeddings),
         |nr AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
         |w AS (SELECT i, v::DOUBLE AS v FROM (VALUES $vals) t(i, v)),
         |z AS (SELECT e.vec_id,
         |         SUM((e.x / NULLIF(nr.nrm, 0)) * w.v) + $b AS z
         |      FROM ex e JOIN nr ON nr.vec_id = e.vec_id
         |                JOIN w ON w.i = e.i
         |      GROUP BY e.vec_id),
         |sc AS (SELECT vec_id,
         |         CAST(ROUND(ROUND(1.0 / (1.0 + EXP(-z)), 4) * 10000)
         |           AS BIGINT) AS si
         |       FROM z),
         |j AS (SELECT sc.si, LEAST(sc.si // 1000, 9) AS bin,
         |             CASE WHEN m.label <= 4 THEN 1 ELSE 0 END AS pos
         |      FROM sc JOIN embeddings m ON m.vec_id = sc.vec_id)
         |SELECT bin, COUNT(*)::BIGINT AS n,
         |       ROUND(SUM(si)::DOUBLE / COUNT(*) / 10000.0, 4)
         |         AS mean_score,
         |       ROUND(SUM(pos)::DOUBLE / COUNT(*), 4) AS frac_pos
         |FROM j GROUP BY bin ORDER BY bin""".stripMargin
    },
    // hybrid retrieval: Reciprocal Rank Fusion of the two PROVEN legs —
    // the BM25 chain (q77/q82's oracle at depth 50) and the cosine-kNN
    // chain (q23's oracle at depth 50). score = sum over lists of
    // 1/(60 + rank); integer ranks make the doubles engine-identical,
    // the 6-decimal round is the rank key (the q77 stability pattern)
    "q93_hybrid_rrf" ->
      s"""WITH bm AS (SELECT rank, doc_id FROM (${bm25Sql(50)}) b),
         |vr AS (SELECT ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id)
         |         AS rank, vec_id AS doc_id
         |       FROM (${cosineKnnSql(50)}) v),
         |fused AS (
         |  SELECT COALESCE(bm.doc_id, vr.doc_id) AS doc_id,
         |         ROUND(COALESCE(1.0 / (60 + bm.rank), 0) +
         |               COALESCE(1.0 / (60 + vr.rank), 0), 6) AS s
         |  FROM bm FULL OUTER JOIN vr ON bm.doc_id = vr.doc_id),
         |r AS (SELECT doc_id, s, ROW_NUMBER() OVER (
         |        ORDER BY s DESC, doc_id)::BIGINT AS rank
         |      FROM fused)
         |SELECT rank, doc_id, printf('%.6f', s) AS rrf
         |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // repeated-span detection: flagged anchors = positions whose 5-gram
    // md5 appears in >= 2 distinct docs; [p, p+4] intervals merge via
    // gaps-and-islands (all-integer arithmetic, layered because window
    // functions cannot nest). Spark's posexplode is 0-based -> i - 1
    "q95_repeated_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |        md5(array_to_string(list_slice(tk, i, i + 4), ' ')) AS gh
        |      FROM (SELECT doc_id, tk,
        |              unnest(range(1, len(tk) - 5 + 2)) AS i FROM d) x),
        |dup AS (SELECT gh FROM g GROUP BY gh
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |f AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |pe AS (SELECT doc_id, pos,
        |         MAX(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prev_end
        |       FROM f),
        |ni AS (SELECT doc_id, pos,
        |         CASE WHEN pos > COALESCE(prev_end, -1) + 1
        |              THEN 1 ELSE 0 END AS nw
        |       FROM pe),
        |isl AS (SELECT doc_id, pos,
        |          SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |        FROM ni)
        |SELECT doc_id, MIN(pos)::BIGINT AS span_start,
        |       (MAX(pos) + 4)::BIGINT AS span_end,
        |       (MAX(pos) + 4 - MIN(pos) + 1)::BIGINT AS span_len
        |FROM isl GROUP BY doc_id, isl
        |ORDER BY doc_id, span_start""".stripMargin,
    // span redaction: q95's flagged anchors expanded to covered token
    // positions; kept = anti-join, rebuilt in position order and md5'd.
    // Fully-covered docs keep md5('') (string_agg over 0 rows is NULL)
    "q96_span_redact" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |        md5(array_to_string(list_slice(tk, i, i + 4), ' ')) AS gh
        |      FROM (SELECT doc_id, tk,
        |              unnest(range(1, len(tk) - 5 + 2)) AS i FROM d) x),
        |dup AS (SELECT gh FROM g GROUP BY gh
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |f AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |cov AS (SELECT DISTINCT doc_id,
        |          pos + unnest(range(0, 5)) AS pos FROM f),
        |toks AS (SELECT doc_id, unnest(tk) AS w,
        |           generate_subscripts(tk, 1) - 1 AS pos FROM d),
        |kept AS (SELECT t.doc_id, t.pos, t.w FROM toks t
        |         LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
        |         WHERE c.doc_id IS NULL),
        |k2 AS (SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
        |         md5(string_agg(w, ' ' ORDER BY pos)) AS kept_md5
        |       FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, len(d.tk)::BIGINT AS n_total,
        |       COALESCE(k2.n_kept, 0) AS n_kept,
        |       COALESCE(k2.kept_md5, md5('')) AS kept_md5
        |FROM d LEFT JOIN k2 USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // the sketch pass only PRUNES candidates (exactness restored by the
    // re-count), so the oracle is the plain exact top-k
    "q78_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |c AS (SELECT w, COUNT(*)::BIGINT AS cnt FROM t GROUP BY 1),
        |r AS (SELECT w, cnt, ROW_NUMBER() OVER (
        |        ORDER BY cnt DESC, w)::BIGINT AS rank
        |      FROM c)
        |SELECT rank, w, cnt FROM r WHERE rank <= 20 ORDER BY rank"""
        .stripMargin,
  )
}
