package graft

/** DuckDB oracle SQL for every oracle-checkable entry in
  * [[graft.Queries]]. Each statement runs on the same sfDir parquets the
  * Spark query reads (tables named by file stem) and must produce
  * value-identical, identically-named, identically-ordered output.
  *
  * Engine-agnostic discipline: md5 for content hashing (identical hex in
  * both engines), exact integer domains wherever possible, 6-decimal
  * rounding for float aggregates, explicit ORDER BY everywhere, explicit
  * BIGINT casts so Spark long == DuckDB BIGINT. Validated against DuckDB
  * 1.0.0 in-sandbox.
  */
object OracleSql {

  // --- shared fragments ----------------------------------------------------

  /** Co-purchase edges: part↔part via shared l_orderkey, oriented src<dst. */
  private val CP =
    """SELECT l1.l_partkey AS src, l2.l_partkey AS dst, count(*) AS weight
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      |  GROUP BY 1, 2""".stripMargin

  /** Undirected view + vertices + degrees. */
  private val UND =
    s"""cp AS MATERIALIZED ($CP),
       | e AS MATERIALIZED (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
       | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | d AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY 1)""".stripMargin

  /** Lowercased alnum tokens per document. */
  private val TOKS =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      |  FROM documents)""".stripMargin

  /** Distinct word n-gram shingles (needs TOKS in scope). */
  private def shCte(n: Int): String = {
    val grams = (0 until n)
      .map(d => if (d == 0) "ts[i]" else s"ts[i+$d]").mkString(" || ' ' || ")
    s"""idx AS (
       |  SELECT doc_id, ts, unnest(generate_series(1, CAST(len(ts) AS BIGINT) - ${n - 1})) AS i
       |  FROM toks WHERE len(ts) >= $n),
       | sh AS (SELECT DISTINCT doc_id, $grams AS shingle FROM idx)""".stripMargin
  }

  /** Pairwise shingle intersections + per-doc set sizes (needs sh). */
  private val JaccTail =
    """ inter AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)""".stripMargin

  // --- fixpoint recursions ------------------------------------------------

  /** Rounds any fixpoint recursion may take: a state still changing after
    * this many rounds raises `error('<name> did not converge in N rounds')`,
    * the SQL twin of [[graft.engine.Lineage.rounds]].
    */
  private[graft] val MaxRounds = 1000

  /** Runs `step` from `init` until the state stops changing, as one
    * parenthesised subquery with columns (k, done, <cols>): every round's
    * state, tagged with its round k. `step` selects `cols` from the
    * current state, the CTE it is handed. The round whose state equals its
    * predecessor's (as a set) is tagged `done` and ends the recursion. A
    * step that yields no rows ends it too, with no row tagged `done`. So a
    * caller reads the fixpoint from `done` rows, or a profile from every
    * round, and never the last round by `k = max(k)`.
    *
    * The recursion sits in a subquery because DuckDB 1.0 evaluates a
    * sibling `A UNION B` CTE of a top-level `WITH RECURSIVE` as
    * `UNION ALL`; the statement's own WITH stays plain. Its CTEs are named
    * after `name`: DuckDB 1.0 binds an inlined CTE's names in the scope it
    * is inlined into, so a recursion that reads another (truss_comm) or
    * nests one (msf) needs names of its own.
    */
  private def fixpoint(name: String, cols: String, init: String)(
      step: String => String): String =
    s"""(WITH RECURSIVE $name AS (
       |  SELECT 0 AS k, false AS done, $cols FROM ($init)
       |  UNION ALL
       |  SELECT * FROM (
       |   WITH ${name}_cur AS MATERIALIZED (SELECT $cols FROM $name WHERE NOT done),
       |    ${name}_nx AS MATERIALIZED (${step(s"${name}_cur")}),
       |    ${name}_k AS (SELECT DISTINCT CASE WHEN k < $MaxRounds THEN k + 1
       |      ELSE error('$name did not converge in $MaxRounds rounds') END AS k
       |      FROM $name WHERE NOT done)
       |   SELECT ${name}_k.k,
       |     NOT EXISTS (SELECT $cols FROM ${name}_nx EXCEPT SELECT $cols FROM ${name}_cur)
       |       AND NOT EXISTS (SELECT $cols FROM ${name}_cur EXCEPT SELECT $cols FROM ${name}_nx)
       |       AS done,
       |     $cols FROM ${name}_k, ${name}_nx))
       | SELECT * FROM $name)""".stripMargin

  /** ε=1 densest peel over a symmetric weighted edge relation `ew` (src,
    * dst, w): each round keeps the edges whose endpoints both have
    * wdeg·n > 2·w2 (exact-integer spelling of wdeg > 2(1+ε)·W/n, with n
    * vertices and w2 = Σ wdeg), until the subgraph is empty. Unit weights
    * give the unweighted peel.
    */
  private def densestRounds(ew: String): String = fixpoint("densest", "src, dst, w", ew) { cur =>
    s"""WITH d AS (SELECT src AS id, sum(w) AS wdeg FROM $cur GROUP BY 1),
       | kk AS (SELECT id FROM d
       |   WHERE wdeg * (SELECT count(*) FROM d) > 2 * (SELECT sum(wdeg) FROM d))
       |SELECT e.src, e.dst, e.w FROM $cur e
       |  JOIN kk a ON a.id = e.src JOIN kk b ON b.id = e.dst""".stripMargin
  }

  /** One profile row (round, n, w2) per non-empty round of
    * [[densestRounds]]: its vertex count and Σ wdeg, as measured before
    * that round's peel.
    */
  private def densestProfile(ew: String): String =
    s"""SELECT k + 1 AS round, CAST(count(DISTINCT src) AS BIGINT) AS n,
       |  CAST(sum(w) AS BIGINT) AS w2
       |FROM ${densestRounds(ew)} WHERE NOT done GROUP BY k""".stripMargin

  /** md5-prefix priority (`digits` hex digits, 60 bits by default) of the
    * x:y endpoint string — the engine's
    * `GraphOps.md5Prio(concat_ws(":", x, y))`.
    */
  private def md5Pair(x: String, y: String, digits: Int = 15): String =
    s"('0x' || substr(md5(CAST($x AS VARCHAR) || ':' || CAST($y AS VARCHAR)), 1, $digits))::BIGINT"

  /** 60-bit md5-prefix priority of one id — the engine's `GraphOps.md5Prio`. */
  private def md5Prio(x: String): String =
    s"('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 15))::BIGINT"

  /** md5-prio of the canonical x:y endpoint string mod m — the same value
    * as the engine's `GraphOps.md5Prio(concat_ws(":", x, y)) % m`.
    */
  private def md5ModSql(x: String, y: String, m: Int): String =
    s"(${md5Pair(x, y)} % $m)"

  /** md5-parity edge sign (0/1). */
  private def sgnSql(x: String, y: String): String = md5ModSql(x, y, 2)

  /** Unrolled Markov power steps (needs c, crs, t, mp0 in scope): per-term
    * floored micro-unit routing, absent types coalesced to 0.
    */
  private def markovSteps(k: Int): String =
    (1 to k).map { i =>
      s"""mp$i AS MATERIALIZED (
         |  SELECT t.event_type, CAST(coalesce(s.w, 0) AS BIGINT) AS w
         |  FROM t LEFT JOIN (
         |    SELECT c.to_type AS event_type, sum((p.w * c.n) // r.rs) AS w
         |    FROM mp${i - 1} p
         |    JOIN c ON c.from_type = p.event_type
         |    JOIN crs r ON r.from_type = p.event_type
         |    GROUP BY 1) s ON s.event_type = t.event_type)""".stripMargin
    }.mkString(",\n ")

  /** Unrolled sigma-count BFS rounds from the min-id source (needs e, v
    * in scope): round i settles exactly the level-i frontier with
    * sigma = Σ sigma over level-(i−1) in-neighbors.
    */
  private def sigmaRounds(k: Int): String = {
    val s0 = "sp0 AS MATERIALIZED (SELECT id, " +
      "CASE WHEN id = (SELECT min(src) FROM e) THEN 0 END AS dist, " +
      "CASE WHEN id = (SELECT min(src) FROM e) THEN 1 END AS sigma FROM v)"
    val rounds = (1 to k).map { i =>
      s"""sm$i AS MATERIALIZED (
         |  SELECT e.dst AS id, sum(s.sigma) AS nsig
         |  FROM e JOIN sp${i - 1} s ON s.id = e.src AND s.dist = ${i - 1}
         |  GROUP BY 1),
         | sp$i AS MATERIALIZED (
         |  SELECT s.id,
         |    CASE WHEN s.dist IS NOT NULL THEN s.dist
         |         WHEN m.nsig IS NOT NULL THEN $i END AS dist,
         |    CASE WHEN s.dist IS NOT NULL THEN s.sigma
         |         ELSE m.nsig END AS sigma
         |  FROM sp${i - 1} s LEFT JOIN sm$i m ON m.id = s.id)""".stripMargin
    }
    (s0 +: rounds).mkString(",\n ")
  }

  /** Unrolled longest-path layering rounds (needs e, v in scope). */
  private def layerRounds(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT e.dst AS id, max(l.layer) + 1 AS nl FROM e JOIN l${i - 1} l ON l.id = e.src GROUP BY 1),
         | l$i AS MATERIALIZED (SELECT l.id, greatest(l.layer, coalesce(m.nl, 0)) AS layer FROM l${i - 1} l LEFT JOIN m$i m ON l.id = m.id)""".stripMargin
    }
    ("l0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS layer FROM v)" +:
      rounds).mkString(",\n ")
  }

  /** Unrolled md5-argmin walk steps (needs e and w0 in scope). The
    * arg_min ordinal concatenates a zero-padded neighbor id after the md5
    * so the pick is a total order even under hash collision — identical
    * to the engine's min_by priority. */
  private def walkSteps(k: Int): String = {
    val rounds = (1 to k).map { t =>
      val pick = s"arg_min(e.dst, md5(CAST(w.cur AS VARCHAR) || ':' || '$t' || ':' || CAST(e.dst AS VARCHAR)) || lpad(CAST(e.dst AS VARCHAR), 20, '0'))"
      s"""w$t AS MATERIALIZED (
         |  SELECT w.start_id, coalesce($pick, w.cur) AS cur,
         |    CASE WHEN count(e.dst) > 0
         |         THEN max(w.path) || '->' || CAST(coalesce($pick, w.cur) AS VARCHAR)
         |         ELSE max(w.path) END AS path
         |  FROM w${t - 1} w LEFT JOIN e ON e.src = w.cur
         |  GROUP BY w.start_id, w.cur)""".stripMargin
    }
    rounds.mkString(",\n ")
  }

  private def prRounds(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT v.id, 0.15 + 0.85 * coalesce(s.mass, 0.0) AS pr
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.pr / d.outdeg) AS mass
         |    FROM e JOIN r${i - 1} r ON e.src = r.id JOIN d ON e.src = d.id
         |    GROUP BY e.dst) s ON v.id = s.id)""".stripMargin
    }
    ("r0 AS MATERIALIZED (SELECT id, 1.0 AS pr FROM v)" +: rounds).mkString(",\n ")
  }

  private def lpRounds(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT dst AS id, label AS newlabel FROM (
         |    SELECT m.dst, m.label, row_number() OVER (PARTITION BY m.dst ORDER BY m.cnt DESC, m.label ASC) AS rn
         |    FROM (SELECT e.dst, l.label, count(*) AS cnt FROM e JOIN l${i - 1} l ON e.src = l.id GROUP BY 1, 2) m) WHERE rn = 1),
         | l$i AS MATERIALIZED (SELECT l.id, coalesce(b.newlabel, l.label) AS label FROM l${i - 1} l LEFT JOIN b$i b ON l.id = b.id)""".stripMargin
    }
    ("l0 AS MATERIALIZED (SELECT id, id AS label FROM v)" +: rounds).mkString(",\n ")
  }

  /** Seeded-LP rounds: ids ≡ 0 (mod `seedMod`) hold their own label fixed,
    * everyone else starts NULL and adopts the mode among LABELED neighbors
    * (needs e, v in scope — the lp5 tie-break discipline).
    */
  private def lpSeededRounds(k: Int, seedMod: Long): String = {
    val rounds = (1 to k).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT dst AS id, label AS newlabel FROM (
         |    SELECT m.dst, m.label, row_number() OVER (PARTITION BY m.dst ORDER BY m.cnt DESC, m.label ASC) AS rn
         |    FROM (SELECT e.dst, l.label, count(*) AS cnt FROM e JOIN l${i - 1} l ON e.src = l.id WHERE l.label IS NOT NULL GROUP BY 1, 2) m) WHERE rn = 1),
         | l$i AS MATERIALIZED (SELECT l.id, CASE WHEN l.id % $seedMod = 0 THEN l.id ELSE coalesce(b.newlabel, l.label) END AS label FROM l${i - 1} l LEFT JOIN b$i b ON l.id = b.id)""".stripMargin
    }
    (s"l0 AS MATERIALIZED (SELECT id, CASE WHEN id % $seedMod = 0 THEN id END AS label FROM v)" +: rounds)
      .mkString(",\n ")
  }

  /** Ids of the priority relation `un` (id, p) whose p beats every
    * neighbour's in `un` (needs e in scope). Strict `>` on the 60-bit
    * prefix alone: were two priorities equal, neither vertex would win —
    * identically in both engines.
    */
  private def localMaxima(un: String): String =
    s"""SELECT u.id FROM $un u LEFT JOIN (
       |    SELECT e.dst AS id, max(x.p) AS mp FROM e JOIN $un x ON e.src = x.id GROUP BY e.dst) m
       |  ON u.id = m.id WHERE m.mp IS NULL OR u.p > m.mp""".stripMargin

  /** Jones–Plassmann coloring with md5Prio(id) priorities (needs e —
    * symmetric, self-loop-free — and v in scope): per round the uncolored
    * priority-local-maxima take the mex of their colored neighbors'
    * palette, until every vertex is colored. The mex search range
    * generate_series(0, #distinct used) mirrors Spark's
    * sequence(0, size(used)) bound exactly.
    */
  private val jpRounds: String = fixpoint("coloring", "id, p, color",
    s"SELECT id, ${md5Prio("id")} AS p, CAST(NULL AS BIGINT) AS color FROM v") { cur =>
    s"""WITH un AS (SELECT id, p FROM $cur WHERE color IS NULL),
       | w AS (${localMaxima("un")}),
       | used AS (
       |  SELECT e.src AS id, c.color FROM e JOIN $cur c ON c.id = e.dst
       |  WHERE c.color IS NOT NULL AND e.src IN (SELECT id FROM w)),
       | mex AS (
       |  SELECT cd.id, min(cd.g) AS color FROM (
       |    SELECT w.id, unnest(generate_series(0, coalesce(n.nc, 0))) AS g
       |    FROM w LEFT JOIN (SELECT id, count(DISTINCT color) AS nc FROM used GROUP BY 1) n ON w.id = n.id) cd
       |  WHERE NOT EXISTS (SELECT 1 FROM used u WHERE u.id = cd.id AND u.color = cd.g)
       |  GROUP BY cd.id)
       |SELECT c.id, c.p, coalesce(c.color, x.color) AS color
       |FROM $cur c LEFT JOIN mex x ON x.id = c.id""".stripMargin
  }

  /** Discrete-quantile tail over hist(v, cnt): prefix sum over the
    * distinct-value histogram, percentile_disc via integer ceil —
    * identical to [[graft.functions.Quantiles.discrete]]'s spelling.
    */
  private def quantileTail(percents: Seq[Int]): String =
    s""" cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM hist),
       | n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
       | p AS (SELECT CAST(unnest([${percents.mkString(",")}]) AS BIGINT) AS pct)
       |SELECT pct, CAST(min(v) AS BIGINT) AS value
       |FROM p JOIN cum ON cum.cum >= (((SELECT n FROM n) * pct + 99) // 100)
       |GROUP BY pct ORDER BY pct""".stripMargin

  /** Exact-integer k-means (kmeans8 — [[graft.ann.KMeans]] twin): lattice
    * quantization `floor(x·scale)+offset` (offset makes truncating `//`
    * floor division), md5-seeded centroids, packed `dist²·16+cluster`
    * argmin, floored-mean updates with empty-cluster coalesce. Unrolled to
    * `iters` assignment rounds; internal HUGEINT sums are exact, outputs
    * cast to BIGINT.
    */
  private def kmeansSql(k: Int, iters: Int, scale: Long,
                        offset: Long): String =
    s"""WITH ${kmeansCtes("", k, iters, scale, offset, 1, 0)}
       |SELECT vec_id, cluster, dist2 FROM a$iters ORDER BY vec_id"""
      .stripMargin

  /** The k-means CTE chain with every CTE name prefixed by `p` so several
    * instances compose in one statement (product quantization runs one per
    * dimension subspace). `sliceFrom` (1-based) + `sliceLen` restrict the
    * quantized coordinates to a subspace; `sliceLen = 0` means the whole
    * vector. The final assignment table is `${p}a$iters`.
    */
  private def kmeansCtes(p: String, k: Int, iters: Int, scale: Long,
                         offset: Long, sliceFrom: Int,
                         sliceLen: Int): String = {
    val hi =
      if (sliceLen == 0) "CAST(len(embedding) AS BIGINT)"
      else s"CAST(${sliceFrom + sliceLen - 1} AS BIGINT)"
    def assignCte(i: Int, cent: String): String =
      s"""${p}mm$i AS (
         |  SELECT cluster, sum(m*m) AS mm FROM $cent GROUP BY 1),
         | ${p}dot$i AS (
         |  SELECT q.vec_id, c.cluster, sum(q.q * c.m) AS dot
         |  FROM ${p}quant q JOIN $cent c ON q.dim = c.dim GROUP BY 1, 2),
         | ${p}a$i AS MATERIALIZED (
         |  SELECT vec_id, CAST(p % 16 AS BIGINT) AS cluster,
         |    CAST(p // 16 AS BIGINT) AS dist2 FROM (
         |    SELECT d.vec_id,
         |      min((n.qq - 2 * d.dot + m.mm) * 16 + d.cluster) AS p
         |    FROM ${p}dot$i d JOIN ${p}qq n ON d.vec_id = n.vec_id
         |    JOIN ${p}mm$i m ON d.cluster = m.cluster GROUP BY 1))"""
        .stripMargin
    def updateCte(i: Int, cent: String): String =
      s"""${p}u$i AS (
         |  SELECT a.cluster, q.dim, CAST(sum(q.q) // count(*) AS BIGINT) AS m
         |  FROM ${p}quant q JOIN ${p}a$i a ON q.vec_id = a.vec_id
         |  GROUP BY 1, 2),
         | ${p}c$i AS MATERIALIZED (
         |  SELECT p.cluster, p.dim, coalesce(u.m, p.m) AS m
         |  FROM $cent p LEFT JOIN ${p}u$i u
         |    ON p.cluster = u.cluster AND p.dim = u.dim)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val cent = if (i == 1) s"${p}c0" else s"${p}c${i - 1}"
      if (i < iters) assignCte(i, cent) + ",\n " + updateCte(i, cent)
      else assignCte(i, cent)
    }.mkString(",\n ")
    s"""${p}quant AS MATERIALIZED (
       |  SELECT vec_id, i - $sliceFrom AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * $scale) AS BIGINT)
       |      + $offset AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series($sliceFrom, $hi)) AS i
       |        FROM embeddings)),
       | ${p}qq AS MATERIALIZED (
       |  SELECT vec_id, sum(q*q) AS qq FROM ${p}quant GROUP BY 1),
       | ${p}seeds AS (
       |  SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY prio, vec_id) AS BIGINT) - 1
       |      AS cluster
       |  FROM (SELECT vec_id,
       |          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |            AS prio
       |        FROM embeddings)
       |  ORDER BY prio, vec_id LIMIT $k),
       | ${p}c0 AS MATERIALIZED (
       |  SELECT s.cluster, q.dim, q.q AS m
       |  FROM ${p}seeds s JOIN ${p}quant q ON s.vec_id = q.vec_id),
       | ${rounds}""".stripMargin
  }

  /** Product quantization: `m` disjoint `dsub`-dim subspaces, each an
    * independent exact-integer k-means chain ([[kmeansCtes]] with a
    * subspace slice), joined into per-vector code tuples + the summed
    * reconstruction error.
    */
  private def pqSql(m: Int, dsub: Int, k: Int, iters: Int): String = {
    val blocks = (0 until m)
      .map(j => kmeansCtes(s"q${j}_", k, iters, 10000L, 10000L,
        j * dsub + 1, dsub))
      .mkString(",\n ")
    val joins = (1 until m)
      .map(j => s"JOIN q${j}_a$iters q$j ON q0.vec_id = q$j.vec_id")
      .mkString("\n")
    val codes = (0 until m).map(j => s"q$j.cluster AS c$j").mkString(", ")
    val dsum = (0 until m).map(j => s"q$j.dist2").mkString(" + ")
    s"""WITH $blocks
       |SELECT q0.vec_id AS vec_id, $codes, $dsum AS dist2
       |FROM q0_a$iters q0
       |$joins
       |ORDER BY vec_id""".stripMargin
  }

  /** Weighted-LP rounds: vote weight = Σ edge weight (needs e(src,dst,w)). */
  private def wlpRounds(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT dst AS id, label AS newlabel FROM (
         |    SELECT m.dst, m.label, row_number() OVER (PARTITION BY m.dst ORDER BY m.ws DESC, m.label ASC) AS rn
         |    FROM (SELECT e.dst, l.label, sum(e.w) AS ws FROM e JOIN l${i - 1} l ON e.src = l.id GROUP BY 1, 2) m) WHERE rn = 1),
         | l$i AS MATERIALIZED (SELECT l.id, coalesce(b.newlabel, l.label) AS label FROM l${i - 1} l LEFT JOIN b$i b ON l.id = b.id)""".stripMargin
    }
    ("l0 AS MATERIALIZED (SELECT id, id AS label FROM v)" +: rounds).mkString(",\n ")
  }

  /** k rounds of min-plus relaxation from min(src); CASE instead of least()
    * for engine-agnostic null handling.
    */
  /** 2^44 — the (dist, seed) packing base shared with
    * [[graft.algos.Paths.nearestSeeds]].
    */
  private val SeedShift = 17592186044416L

  /** Unrolled multi-source BFS rounds `n1..nk` on the packed
    * dist·2^44 + seed minimum (needs e and n0 in scope).
    */
  private def seedRounds(k: Int): String =
    (1 to k).map { i =>
      s"""n$i AS MATERIALIZED (
         |  SELECT p.id, CASE WHEN m.np IS NULL THEN p.packed WHEN p.packed IS NULL OR m.np < p.packed THEN m.np ELSE p.packed END AS packed
         |  FROM n${i - 1} p LEFT JOIN (
         |    SELECT e.dst AS id, min(pp.packed + $SeedShift) AS np
         |    FROM e JOIN n${i - 1} pp ON e.src = pp.id WHERE pp.packed IS NOT NULL GROUP BY 1) m ON p.id = m.id)""".stripMargin
    }.mkString(",\n ")

  /** Unrolled earliest-arrival temporal-reachability rounds (needs te and
    * a0 in scope): per round, one src-equi join guarded by the
    * time-respecting filter t >= arrival, one min agg, one full-outer
    * min-merge — exactly [[graft.algos.Temporal.earliestArrival]]'s step. */
  private def temporalRounds(k: Int): String =
    (1 to k).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT coalesce(a.id, u.id) AS id,
         |    least(coalesce(a.arrival, u.na), coalesce(u.na, a.arrival)) AS arrival
         |  FROM a${i - 1} a FULL OUTER JOIN (
         |    SELECT te.dst AS id, min(te.t) AS na
         |    FROM te JOIN a${i - 1} p ON te.src = p.id AND te.t >= p.arrival
         |    GROUP BY 1) u ON a.id = u.id)""".stripMargin
    }.mkString(",\n ")

  /** Unrolled ANF/FM sketch rounds (needs e and s0 in scope): per round one
    * src-equi join, one bit_or agg per register, one left-join OR-merge —
    * exactly [[graft.algos.Sketches.anf]]'s step. */
  private def anfRounds(k: Int, regs: Int): String =
    (1 to k).map { i =>
      val merged = (0 until regs)
        .map(j => s"s.r$j | coalesce(u.u$j, 0) AS r$j").mkString(", ")
      val ors = (0 until regs)
        .map(j => s"bit_or(p.r$j) AS u$j").mkString(", ")
      s"""s$i AS MATERIALIZED (
         |  SELECT s.id, $merged
         |  FROM s${i - 1} s LEFT JOIN (
         |    SELECT e.dst AS id, $ors
         |    FROM e JOIN s${i - 1} p ON e.src = p.id GROUP BY 1) u
         |  ON s.id = u.id)""".stripMargin
    }.mkString(",\n ")

  /** Unrolled synchronous Louvain move rounds (needs ew, ktot, m2, c0 in
    * scope): per round Σtot per community, k_in per (vertex, candidate)
    * incl. a zero row for the current community, the 2m-scaled integer
    * gain, and a two-phase argmax (max g, min community id at the max) —
    * exactly [[graft.algos.Louvain.rounds]]'s step. */
  private def louvainRounds(k: Int): String =
    (1 to k).map { i =>
      s"""sig$i AS MATERIALIZED (
         |  SELECT c.comm, CAST(sum(kt.k) AS BIGINT) AS sig
         |  FROM ktot kt JOIN c${i - 1} c ON kt.id = c.id GROUP BY 1),
         | kin$i AS MATERIALIZED (
         |  SELECT id, comm, CAST(sum(kin) AS BIGINT) AS kin FROM (
         |    SELECT e.src AS id, cd.comm, e.w AS kin
         |    FROM ew e JOIN c${i - 1} cd ON cd.id = e.dst
         |    UNION ALL SELECT id, comm, 0 FROM c${i - 1}) GROUP BY 1, 2),
         | sc$i AS MATERIALIZED (
         |  SELECT n.id, n.comm,
         |    CAST(m.m2 * n.kin - kt.k * (s.sig -
         |      CASE WHEN n.comm = c.comm THEN kt.k ELSE 0 END) AS BIGINT) AS g
         |  FROM kin$i n JOIN c${i - 1} c ON c.id = n.id
         |    JOIN sig$i s ON s.comm = n.comm
         |    JOIN ktot kt ON kt.id = n.id, m2 m),
         | c$i AS MATERIALIZED (
         |  SELECT s.id, CAST(min(s.comm) AS BIGINT) AS comm
         |  FROM sc$i s JOIN (SELECT id, max(g) AS bg FROM sc$i GROUP BY 1) b
         |    ON b.id = s.id AND s.g = b.bg GROUP BY 1)""".stripMargin
    }.mkString(",\n ")

  /** One min-plus relaxation of the distance relation `d` (id, dist) over
    * e; `w` is the edge weight expression.
    */
  private def relax(d: String, w: String): String =
    s"""SELECT p.id, CASE WHEN m.nd IS NULL THEN p.dist WHEN p.dist IS NULL OR m.nd < p.dist THEN m.nd ELSE p.dist END AS dist
       |  FROM $d p LEFT JOIN (
       |    SELECT e.dst AS id, min(dd.dist + $w) AS nd
       |    FROM e JOIN $d dd ON e.src = dd.id WHERE dd.dist IS NOT NULL GROUP BY e.dst) m ON p.id = m.id""".stripMargin

  /** Distances before any relaxation from the source `srcSel`, a scalar
    * subquery (needs v in scope).
    */
  private def sourceDist(srcSel: String): String =
    s"SELECT v.id, CASE WHEN v.id = ($srcSel) THEN 0.0 ELSE CAST(NULL AS DOUBLE) END AS dist FROM v"

  /** The min-id source. */
  private val minSrc = "SELECT min(src) FROM e"

  /** Weighted min-plus relaxation from the min-id source (needs
    * e(src, dst, w), v) to its fixpoint: the converged SSSP distances.
    */
  private val ssspRounds: String =
    fixpoint("sssp", "id, dist", sourceDist(minSrc))(relax(_, "e.w"))

  /** Unrolled relaxation chain named `p0..pk` from a scalar-subquery
    * source (needs e, v in scope); unit steps in double — integer-valued,
    * exact.
    */
  private def bfsChain(p: String, k: Int, srcSel: String,
                       wExpr: String = "1.0"): String = {
    val rounds = (1 to k).map(i => s"$p$i AS MATERIALIZED (${relax(s"$p${i - 1}", wExpr)})")
    (s"${p}0 AS MATERIALIZED (${sourceDist(srcSel)})" +: rounds).mkString(",\n ")
  }

  /** Multi-root BFS levels over dense (root, id) state (needs e, v, roots). */
  private def harmonicRounds(k: Int): String = {
    val h0 = "h0 AS MATERIALIZED (SELECT r.root, v.id, " +
      "CASE WHEN v.id = r.root THEN 0 ELSE CAST(NULL AS INTEGER) END AS dist " +
      "FROM v CROSS JOIN roots r)"
    val rounds = (1 to k).map { i =>
      s"""h$i AS MATERIALIZED (
         |  SELECT p.root, p.id, CASE WHEN m.nd IS NULL THEN p.dist WHEN p.dist IS NULL OR m.nd < p.dist THEN m.nd ELSE p.dist END AS dist
         |  FROM h${i - 1} p LEFT JOIN (
         |    SELECT dd.root, e.dst AS id, min(dd.dist) + 1 AS nd
         |    FROM e JOIN h${i - 1} dd ON e.src = dd.id WHERE dd.dist IS NOT NULL GROUP BY dd.root, e.dst) m
         |  ON p.root = m.root AND p.id = m.id)""".stripMargin
    }
    (h0 +: rounds).mkString(",\n ")
  }

  /** Weighted multi-root min-plus levels (needs e(src,dst,w), v, roots). */
  private def harmonicWRounds(k: Int): String = {
    val h0 = "h0 AS MATERIALIZED (SELECT r.root, v.id, " +
      "CASE WHEN v.id = r.root THEN 0.0 ELSE CAST(NULL AS DOUBLE) END AS dist " +
      "FROM v CROSS JOIN roots r)"
    val rounds = (1 to k).map { i =>
      s"""h$i AS MATERIALIZED (
         |  SELECT p.root, p.id, CASE WHEN m.nd IS NULL THEN p.dist WHEN p.dist IS NULL OR m.nd < p.dist THEN m.nd ELSE p.dist END AS dist
         |  FROM h${i - 1} p LEFT JOIN (
         |    SELECT dd.root, e.dst AS id, min(dd.dist + e.w) AS nd
         |    FROM e JOIN h${i - 1} dd ON e.src = dd.id WHERE dd.dist IS NOT NULL GROUP BY dd.root, e.dst) m
         |  ON p.root = m.root AND p.id = m.id)""".stripMargin
    }
    (h0 +: rounds).mkString(",\n ")
  }

  /** Luby MIS with md5Prio(id) priorities (needs e, v in scope): per
    * round the undecided priority-local-maxima join the set (`st` true)
    * and their undecided neighbours leave it (`st` false), until every
    * vertex is decided.
    */
  private val misRounds: String = fixpoint("mis", "id, p, st",
    s"SELECT id, ${md5Prio("id")} AS p, CAST(NULL AS BOOLEAN) AS st FROM v") { cur =>
    s"""WITH un AS (SELECT id, p FROM $cur WHERE st IS NULL),
       | w AS (${localMaxima("un")}),
       | o AS (SELECT DISTINCT e.dst AS id FROM e JOIN w ON e.src = w.id)
       |SELECT c.id, c.p, CASE WHEN c.st IS NOT NULL THEN c.st
       |  WHEN c.id IN (SELECT id FROM w) THEN true
       |  WHEN c.id IN (SELECT id FROM o) THEN false END AS st
       |FROM $cur c""".stripMargin
  }

  /** Greedy maximal matching over a canonical (src<dst) simple edge
    * relation `edges` (src, dst, weight, p): per round an active edge wins
    * when its priority p is the max at BOTH endpoints; winners' endpoints
    * drop their other edges, until no edge is active. Unweighted matching
    * uses the 60-bit md5 edge priority; max-weight matching packs the
    * weight above a 40-bit md5 prefix (Matching.weightedPrio).
    */
  private def matchRounds(edges: String): String = fixpoint("matching",
    "src, dst, weight, p, won",
    s"SELECT src, dst, weight, p, false AS won FROM ($edges)") { cur =>
    s"""WITH act AS (SELECT src, dst, p FROM $cur WHERE NOT won),
       | bv AS (SELECT v, max(p) AS mp FROM (
       |   SELECT src AS v, p FROM act UNION ALL SELECT dst, p FROM act) GROUP BY v),
       | w AS (SELECT m.src, m.dst FROM act m JOIN bv a ON m.src = a.v JOIN bv b ON m.dst = b.v
       |   WHERE m.p = a.mp AND m.p = b.mp),
       | u AS (SELECT src AS v FROM w UNION SELECT dst FROM w)
       |SELECT c.src, c.dst, c.weight, c.p, c.won OR w.src IS NOT NULL AS won
       |FROM $cur c LEFT JOIN w ON w.src = c.src AND w.dst = c.dst
       |WHERE c.won OR w.src IS NOT NULL
       |  OR (c.src NOT IN (SELECT v FROM u) AND c.dst NOT IN (SELECT v FROM u))""".stripMargin
  }

  /** Unweighted matching edges (needs cpf). */
  private val matchEdges =
    s"SELECT src, dst, CAST(NULL AS BIGINT) AS weight, ${md5Pair("src", "dst")} AS p FROM cpf"

  /** Packed weight<<40 | 40-bit md5 priority of a weighted edge. */
  private val weightedPrio = s"weight * 1099511627776 + ${md5Pair("src", "dst", 10)}"

  /** Each component of msf's chosen edges `ch` (c, t) mapped to its root:
    * the per-component pointer t, or c itself on the smaller side of a
    * 2-cycle, jumped to its fixpoint.
    */
  private val msfJumps: String = fixpoint("msf_jumps", "c, p",
    "SELECT a.c, CASE WHEN b.t = a.c AND a.c < a.t THEN a.c ELSE a.t END AS p " +
      "FROM ch a JOIN ch b ON a.t = b.c") { cur =>
    s"SELECT a.c, b.p FROM $cur a JOIN $cur b ON a.p = b.c"
  }

  /** Borůvka MSF over the canonical weighted edge CTE `cpfw`
    * ([[graft.algos.Msf]] value-for-value: packed weight<<40 | md5
    * priorities, per-component argmin under the (pri, src, dst) total
    * order, 2-cycle roots, pointer jumping to the roots, then contraction
    * deduped to the min-priority edge per component pair). The state holds
    * the contracted edges (cu, cv set) and the forest so far (cu, cv NULL);
    * it is the fixpoint once no contracted edge is left.
    */
  private val msfRounds: String = fixpoint("msf", "cu, cv, pri, src, dst, weight",
    s"SELECT src AS cu, dst AS cv, $weightedPrio AS pri, src, dst, weight FROM cpfw") { cur =>
    s"""WITH ce AS (SELECT * FROM $cur WHERE cu IS NOT NULL),
       | ch AS (
       |  SELECT c, t, src, dst, weight FROM (
       |    SELECT c, t, src, dst, weight,
       |      row_number() OVER (PARTITION BY c ORDER BY pri, src, dst) AS rn
       |    FROM (SELECT cu AS c, cv AS t, pri, src, dst, weight FROM ce
       |          UNION ALL
       |          SELECT cv, cu, pri, src, dst, weight FROM ce))
       |  WHERE rn = 1),
       | root AS (SELECT c, p FROM $msfJumps WHERE done)
       |SELECT DISTINCT CAST(NULL AS BIGINT) AS cu, CAST(NULL AS BIGINT) AS cv,
       |  CAST(NULL AS BIGINT) AS pri, src, dst, weight
       |FROM (SELECT src, dst, weight FROM $cur WHERE cu IS NULL
       |      UNION ALL SELECT src, dst, weight FROM ch)
       |UNION ALL
       |SELECT cu, cv, pri, src, dst, weight FROM (
       |  SELECT least(pu.p, pv.p) AS cu, greatest(pu.p, pv.p) AS cv,
       |    e.pri, e.src, e.dst, e.weight,
       |    row_number() OVER (PARTITION BY least(pu.p, pv.p), greatest(pu.p, pv.p)
       |      ORDER BY e.pri, e.src, e.dst) AS rn
       |  FROM ce e JOIN root pu ON pu.c = e.cu JOIN root pv ON pv.c = e.cv
       |  WHERE pu.p <> pv.p)
       |WHERE rn = 1""".stripMargin
  }

  /** Greedy b-MATCHING over the canonical `cpf` edge CTE
    * ([[graft.algos.Matching.runB]]'s b-suitor-style rule, value-for-value
    * 60-bit md5-prefix priorities): an active edge is accepted when its
    * priority RANK among the active edges is within the remaining capacity
    * (b minus accepted edges) at BOTH endpoints; saturated vertices drop
    * their active edges, until no edge is active.
    */
  private def matchBRounds(b: Int): String = fixpoint("b_matching", "src, dst, p, won",
    s"SELECT src, dst, ${md5Pair("src", "dst")} AS p, false AS won FROM cpf") { cur =>
    s"""WITH ends AS (
       |  SELECT src AS v, src, dst, p, won FROM $cur
       |  UNION ALL SELECT dst, src, dst, p, won FROM $cur),
       | cap AS (SELECT v, $b - count(*) FILTER (WHERE won) AS cap FROM ends GROUP BY v),
       | rk AS (SELECT v, src, dst,
       |   row_number() OVER (PARTITION BY v ORDER BY p DESC) AS rk FROM ends WHERE NOT won),
       | w AS (SELECT r.src, r.dst FROM rk r JOIN cap c ON r.v = c.v
       |   WHERE r.rk <= c.cap GROUP BY r.src, r.dst HAVING count(*) = 2),
       | nw AS (SELECT c.src, c.dst, c.p, c.won OR w.src IS NOT NULL AS won
       |   FROM $cur c LEFT JOIN w ON w.src = c.src AND w.dst = c.dst),
       | sat AS (SELECT v FROM (
       |   SELECT src AS v FROM nw WHERE won UNION ALL SELECT dst FROM nw WHERE won)
       |   GROUP BY v HAVING count(*) >= $b)
       |SELECT src, dst, p, won FROM nw
       |WHERE won OR (src NOT IN (SELECT v FROM sat) AND dst NOT IN (SELECT v FROM sat))""".stripMargin
  }

  /** Personalized-PR rounds: teleport only to S (predicate on id). */
  private def pprRounds(k: Int, pred: String => String): String = {
    val rounds = (1 to k).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT v.id, (CASE WHEN ${pred("v.id")} THEN 0.15 ELSE 0.0 END) + 0.85 * coalesce(s.mass, 0.0) AS pr
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.pr / d.outdeg) AS mass
         |    FROM e JOIN r${i - 1} r ON e.src = r.id JOIN d ON e.src = d.id
         |    GROUP BY e.dst) s ON v.id = s.id)""".stripMargin
    }
    (s"r0 AS (SELECT id, CASE WHEN ${pred("id")} THEN 1.0 ELSE 0.0 END AS pr FROM v)" +: rounds)
      .mkString(",\n ")
  }

  /** Connected components of the symmetric edge CTE `e` by HashMin: every
    * vertex takes the least label among itself and its neighbours until
    * no label changes. The `done` rows' (id, lbl) give each vertex its
    * component's min id.
    */
  private def components(e: String): String = fixpoint("components", "id, lbl",
    s"SELECT DISTINCT src AS id, src AS lbl FROM $e") { cur =>
    s"""SELECT c.id, least(c.lbl, coalesce(m.ml, c.lbl)) AS lbl FROM $cur c LEFT JOIN (
       |  SELECT e.dst AS id, min(x.lbl) AS ml FROM $e e JOIN $cur x ON e.src = x.id GROUP BY 1) m
       |ON m.id = c.id""".stripMargin
  }

  /** Directed reachability over e (needs e, v in scope): the `done` rows'
    * (u, v) pairs are every v reachable from u, u itself included.
    */
  private val reachRounds: String = fixpoint("reachability", "u, v",
    "SELECT id AS u, id AS v FROM v") { cur =>
    s"SELECT u, v FROM $cur UNION SELECT r.u, e.dst FROM $cur r JOIN e ON r.v = e.src"
  }

  /** One bond-percolation threshold over the canonical edge CTE `cpf`:
    * md5-hash edge survival under p%, symmetrize, components, one summary
    * row.
    */
  private def percRound(p: Int): String =
    s"""pk$p AS MATERIALIZED (
       |  SELECT src, dst FROM cpf
       |  WHERE ${md5ModSql("src", "dst", 100)} < $p),
       | pse$p AS (SELECT src, dst FROM pk$p UNION SELECT dst, src FROM pk$p),
       | pcomp$p AS (SELECT id, lbl AS c FROM ${components(s"pse$p")} WHERE done),
       | psz$p AS (SELECT c, count(*) AS sz FROM pcomp$p GROUP BY 1),
       | prow$p AS (SELECT CAST($p AS BIGINT) AS p_pct,
       |  CAST(count(*) AS BIGINT) AS n_components,
       |  CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_vertices,
       |  CAST(coalesce(max(sz), 0) AS BIGINT) AS max_size FROM psz$p)""".stripMargin

  /** Unrolled 1-WL refinement rounds over e and a seed CTE w0: label' =
    * md5(label | comma-joined SORTED neighbor labels), '' when isolated.
    */
  private def wlRounds(k: Int): String =
    (1 to k).map { i =>
      s"""wn$i AS MATERIALIZED (
         |  SELECT e.dst AS id, string_agg(x.wl, ',' ORDER BY x.wl) AS ns
         |  FROM e JOIN w${i - 1} x ON e.src = x.id GROUP BY 1),
         | w$i AS MATERIALIZED (
         |  SELECT w.id, md5(w.wl || '|' || coalesce(n.ns, '')) AS wl
         |  FROM w${i - 1} w LEFT JOIN wn$i n ON n.id = w.id)""".stripMargin
    }.mkString(",\n ")

  /** Unrolled multi-seed PPR rounds keyed (seed, id) over e/v/d (UND):
    * sparse state — q_i holds only (seed, id) pairs mass has reached.
    * Teleport 0.15 applies on id = seed rows (incl. base-only seeds that
    * received no mass, via the FULL JOIN against the seed table).
    */
  private def pprMultiRounds(k: Int, pred: String => String): String = {
    val init =
      s"""sd AS MATERIALIZED (SELECT id AS seed FROM v WHERE ${pred("id")}),
         | q0 AS MATERIALIZED (SELECT seed, seed AS id, CAST(1.0 AS DOUBLE) AS pr FROM sd)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""qm$i AS MATERIALIZED (
         |  SELECT r.seed, e.dst AS id, sum(r.pr / d.outdeg) AS mass
         |  FROM e JOIN q${i - 1} r ON e.src = r.id JOIN d ON e.src = d.id
         |  GROUP BY 1, 2),
         | q$i AS MATERIALIZED (
         |  SELECT coalesce(m.seed, s.seed) AS seed,
         |    coalesce(m.id, s.seed) AS id,
         |    (CASE WHEN coalesce(m.id, s.seed) = coalesce(m.seed, s.seed)
         |          THEN 0.15 ELSE 0.0 END)
         |      + 0.85 * coalesce(m.mass, 0.0) AS pr
         |  FROM qm$i m FULL JOIN sd s ON s.seed = m.seed AND s.seed = m.id)""".stripMargin
    }
    (init +: rounds).mkString(",\n ")
  }

  /** k-truss peeling over an oriented (src<dst) simple edge CTE named
    * `cpf`: per round enumerate triangles (a<b<c triple join), credit each
    * triangle's three edges, drop edges with support < k−2, until no edge
    * drops. The `done` rows carry each surviving edge's support within
    * the truss.
    */
  private def trussRounds(k: Int): String = fixpoint("truss", "src, dst, support",
    "SELECT src, dst, CAST(0 AS BIGINT) AS support FROM cpf") { cur =>
    s"""WITH t AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM $cur e1 JOIN $cur e2 ON e1.dst = e2.src
       |  JOIN $cur e3 ON e3.src = e1.src AND e3.dst = e2.dst)
       |SELECT src, dst, count(*) AS support FROM (
       |  SELECT a AS src, b AS dst FROM t
       |  UNION ALL SELECT b, c FROM t
       |  UNION ALL SELECT a, c FROM t)
       |GROUP BY 1, 2 HAVING count(*) >= ${k - 2}""".stripMargin
  }

  /** One k-core peel of the symmetric edge relation `e`: its rows whose
    * endpoints both have degree ≥ `k` (a SQL expression over `e`'s rows).
    */
  private def kcorePeel(k: String, e: String): String =
    s"""WITH kk AS (SELECT src AS id FROM $e GROUP BY 1 HAVING count(*) >= $k)
       |SELECT e.* FROM $e e JOIN kk a ON e.src = a.id JOIN kk b ON e.dst = b.id""".stripMargin

  /** The weight≥2 co-purchase edges of `cpf`, both directions. */
  private val cpfSym = "SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf"

  /** `rounds` unrolled k-core peels `e0..e<rounds>` over the symmetrized
    * `cpf`.
    */
  private def kcoreRounds(k: Int, rounds: Int): String = {
    val rs = (1 to rounds).map(i => s"e$i AS MATERIALIZED (${kcorePeel(s"$k", s"e${i - 1}")})")
    (s"e0 AS MATERIALIZED ($cpfSym)" +: rs).mkString(",\n ")
  }

  /** The k-core of the symmetrized `cpf`, peeled until no edge drops. */
  private def kcoreFixpoint(k: Int): String =
    fixpoint("kcore", "src, dst", cpfSym)(kcorePeel(s"$k", _))

  /** Unrolled WEIGHTED k-core (s-core) peeling over the weighted directed
    * CTE `cp` (src < dst, integral weight): symmetrize with UNION ALL
    * (weights preserved; cp is already distinct on the pair), peel on
    * sum(weight) >= s. [[graft.algos.KCore.peelWeighted]] twin.
    */
  private def wkcoreRounds(s: Int, rounds: Int): String = {
    val head = "e0 AS MATERIALIZED (SELECT src, dst, weight FROM cp UNION ALL SELECT dst, src, weight FROM cp)"
    val rs = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src AS id FROM e${i - 1} GROUP BY 1 HAVING sum(weight) >= $s),
         | e$i AS MATERIALIZED (SELECT e.src, e.dst, e.weight FROM e${i - 1} e JOIN k$i a ON e.src = a.id JOIN k$i b ON e.dst = b.id)""".stripMargin
    }
    (head +: rs).mkString(",\n ")
  }

  /** FULL core decomposition of the symmetrized `cpf`
    * ([[graft.algos.KCore.coreness]] twin): the state is one level's edge
    * set, tagged with the level. Each round peels at degree ≥ level; a
    * round that drops nothing has reached that level's core and moves on
    * to the next level. The recursion ends when the edge set is empty, so
    * a vertex's last level is one past its coreness.
    */
  private val corenessRounds: String = fixpoint("coreness", "lvl, src, dst",
    s"SELECT 1 AS lvl, src, dst FROM ($cpfSym)") { cur =>
    s"""WITH ps AS (${kcorePeel("any_value(lvl)", cur)})
       |SELECT CASE WHEN (SELECT count(*) FROM ps) = (SELECT count(*) FROM $cur)
       |  THEN lvl + 1 ELSE lvl END AS lvl, src, dst FROM ps""".stripMargin
  }

  /** 16-bit md5 simhash: vote and bit-assembly expressions, fully
    * parenthesized (engine precedence safety).
    */
  private val SimhashVotes: String = (0 until 16).map { b =>
    val pos = b / 4 + 1
    val shift = 3 - b % 4
    s"sum(cnt * (2 * (((CAST(strpos('0123456789abcdef', substr(h, $pos, 1)) AS BIGINT) - 1) >> $shift) & 1) - 1)) AS v$b"
  }.mkString(",\n    ")

  private val SimhashBits: String =
    (0 until 16).map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")

  private def jaccSelect(candJoin: String): String =
    s"""SELECT doc1, doc2, jaccard FROM (
       |  SELECT i.doc1, i.doc2, round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) AS jaccard
       |  FROM inter i $candJoin
       |  JOIN sizes s1 ON i.doc1 = s1.doc_id JOIN sizes s2 ON i.doc2 = s2.doc_id)
       |WHERE jaccard >= 0.5 ORDER BY doc1, doc2""".stripMargin

  private val Stop = "'the','a','of','and','in','to','is','it','on','for'"

  /** DuckDB twin of [[graft.corpus.CorpusGen.generate]](20, 30, 8, seed=42)
    * + [[graft.graph.GraphOps.denseIds]]: the synthetic corpus is a pure
    * function of (repoIdx i, fileIdx j, commitIdx k) and md5/sha256, so the
    * oracle regenerates it from generate_series — no parquet table needed.
    * NB DuckDB `/` is float division and CAST rounds — `//` is integer
    * division (Spark's `(col / n).cast("long")` truncates).
    */
  private val CorpusCte =
    """files AS (
      |  SELECT CAST(x // 30 AS BIGINT) AS i, CAST(x % 30 AS BIGINT) AS j
      |  FROM unnest(generate_series(0, 20*30 - 1)) AS t(x)),
      | paths AS (
      |  SELECT i, j, printf('repo-%04d', i) AS repo,
      |    'src/pkg' || CAST(j % 7 AS VARCHAR) || '/File' || CAST(j AS VARCHAR) || '.' ||
      |      (['scala','java','py','c'])[CAST(j % 4 AS INTEGER) + 1] AS path
      |  FROM files),
      | keys AS (
      |  SELECT DISTINCT 'r:' || repo AS key FROM paths
      |  UNION SELECT DISTINCT 'f:' || repo || '/' || path FROM paths),
      | ids AS (SELECT key, CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS id FROM keys)""".stripMargin

  private val CosTail =
    """ flat AS (SELECT v1, v2, unnest(ea) AS x, unnest(eb) AS y FROM pr),
      | dots AS (SELECT v1, v2, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot FROM flat GROUP BY 1, 2),
      | norms AS (
      |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY 1)""".stripMargin

  // --- the statements -------------------------------------------------------

  private val SessionizeSql: String =
    """WITH m AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > CAST(14400 AS BIGINT) * 1000000 THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | s AS (
      |  SELECT user_id, ts, value,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id,
      |  CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  /** Components of the weight≥2 co-purchase graph, labelled by min id:
    * cc's oracle, shared by every CC kernel (they reach the same fixpoint).
    */
  private val ccSql =
    s"""WITH cp AS ($CP),
       | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
       | e AS ($cpfSym)
       |SELECT id, lbl AS component FROM ${components("e")}
       |WHERE done ORDER BY id""".stripMargin

  /** Converged weighted SSSP from the min-id source of the co-purchase
    * graph.
    */
  private val ssspSql =
    s"""WITH cp AS ($CP),
       | ew AS (SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM cp UNION ALL SELECT dst, src, CAST(weight AS DOUBLE) FROM cp),
       | e AS (SELECT src, dst, w FROM ew),
       | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e)
       |SELECT id, dist FROM $ssspRounds WHERE done AND dist IS NOT NULL ORDER BY id""".stripMargin

  val all: Map[String, String] = Map(
    "g_copurchase" ->
      s"WITH cp AS ($CP) SELECT src, dst, weight FROM cp ORDER BY src, dst",

    "g_custpart" ->
      """SELECT o.o_custkey AS src, l.l_partkey + 1000000000 AS dst, count(*) AS weight
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "g_user_event" ->
      """WITH dict AS (
        |  SELECT event_type, -CAST(dense_rank() OVER (ORDER BY event_type) AS BIGINT) AS type_id
        |  FROM (SELECT DISTINCT event_type FROM events))
        |SELECT e.user_id AS src, d.type_id AS dst, count(*) AS weight
        |FROM events e JOIN dict d USING (event_type)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "degrees" ->
      s"""WITH cp AS ($CP),
         | o AS (SELECT src AS id, count(*) AS outdeg FROM cp GROUP BY 1),
         | i AS (SELECT dst AS id, count(*) AS indeg FROM cp GROUP BY 1)
         |SELECT coalesce(o.id, i.id) AS id, coalesce(o.outdeg, 0) AS outdeg, coalesce(i.indeg, 0) AS indeg
         |FROM o FULL OUTER JOIN i ON o.id = i.id ORDER BY id""".stripMargin,

    "vertex_classes" ->
      s"""WITH cp AS ($CP),
         | o AS (SELECT src AS id, count(*) AS outdeg FROM cp GROUP BY 1),
         | i AS (SELECT dst AS id, count(*) AS indeg FROM cp GROUP BY 1)
         |SELECT p.p_partkey AS id, coalesce(o.outdeg, 0) AS outdeg, coalesce(i.indeg, 0) AS indeg,
         | CASE WHEN coalesce(o.outdeg, 0) > 0 AND coalesce(i.indeg, 0) > 0 THEN 'regular'
         |      WHEN coalesce(o.outdeg, 0) > 0 THEN 'source'
         |      WHEN coalesce(i.indeg, 0) > 0 THEN 'sink' ELSE 'isolated' END AS vclass
         |FROM part p LEFT JOIN o ON p.p_partkey = o.id LEFT JOIN i ON p.p_partkey = i.id
         |ORDER BY id""".stripMargin,

    "pr5" ->
      s"WITH $UND,\n ${prRounds(5)}\nSELECT id, round(pr, 6) AS pr FROM r5 ORDER BY id",

    "pr5_blocked" ->
      s"WITH $UND,\n ${prRounds(5)}\nSELECT id, round(pr, 6) AS pr FROM r5 ORDER BY id",

    // weighted PR: shares ∝ edge weight, wout = Σ incident weight
    "wpr5" -> {
      val rounds = (1 to 5).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT v.id, 0.15 + 0.85 * coalesce(s.mass, 0.0) AS pr
           |  FROM v LEFT JOIN (
           |    SELECT we.dst AS id, sum(r.pr * we.w / wd.wout) AS mass
           |    FROM we JOIN r${i - 1} r ON we.src = r.id JOIN wd ON we.src = wd.id
           |    GROUP BY we.dst) s ON v.id = s.id)""".stripMargin
      }.mkString(",\n ")
      s"""WITH cp AS MATERIALIZED ($CP),
         | we AS MATERIALIZED (SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM cp
         |       UNION ALL SELECT dst, src, CAST(weight AS DOUBLE) FROM cp),
         | v AS MATERIALIZED (SELECT src AS id FROM we UNION SELECT dst FROM we),
         | wd AS MATERIALIZED (SELECT src AS id, sum(w) AS wout FROM we GROUP BY 1),
         | r0 AS MATERIALIZED (SELECT id, 1.0 AS pr FROM v),
         | $rounds
         |SELECT id, round(pr, 6) AS pr FROM r5 ORDER BY id""".stripMargin
    },

    // same trajectory as pr5, forced through the 2D grid kernel
    "pr5_grid" ->
      s"WITH $UND,\n ${prRounds(5)}\nSELECT id, round(pr, 6) AS pr FROM r5 ORDER BY id",

    // same trajectory as pr5, forced through the hub-split salt layout
    "pr5_hubsplit" ->
      s"WITH $UND,\n ${prRounds(5)}\nSELECT id, round(pr, 6) AS pr FROM r5 ORDER BY id",

    // S1 reader round-trip: text lines back to the weighted edge triple
    "edgelist_roundtrip" ->
      s"""WITH cp AS ($CP)
         |SELECT src, dst, CAST(weight AS DOUBLE) AS weight
         |FROM cp ORDER BY src, dst""".stripMargin,

    // JSON-lines round-trip keeps the integral weight (the text format
    // reads it back as DOUBLE; JSON preserves the long)
    "jsonl_roundtrip" ->
      s"""WITH cp AS ($CP)
         |SELECT src, dst, CAST(weight AS BIGINT) AS weight
         |FROM cp ORDER BY src, dst""".stripMargin,

    // CSV round trip preserves the integral weights exactly, like JSON
    "csv_roundtrip" ->
      s"""WITH cp AS ($CP)
         |SELECT src, dst, CAST(weight AS BIGINT) AS weight
         |FROM cp ORDER BY src, dst""".stripMargin,

    // ORC round trip: columnar S-family format, integral weights exact
    "orc_roundtrip" ->
      s"""WITH cp AS ($CP)
         |SELECT src, dst, CAST(weight AS BIGINT) AS weight
         |FROM cp ORDER BY src, dst""".stripMargin,

    // S4 resume: 3 supersteps + durable snapshot, resumed to 5 — the final
    // state equals pr5's straight 5-round trajectory
    "pr_resume" ->
      s"WITH $UND,\n ${prRounds(5)}\nSELECT id, round(pr, 6) AS pr FROM r5 ORDER BY id",

    "pr_top20" ->
      s"WITH $UND,\n ${prRounds(5)}\nSELECT id, round(pr, 6) AS pr FROM r5 ORDER BY round(pr, 6) DESC, id LIMIT 20",

    "ppr5" ->
      s"WITH $UND,\n ${pprRounds(5, c => s"$c % 100 = 0")}\nSELECT id, round(pr, 6) AS pr FROM r5 ORDER BY id",

    "pr5_bipartite" ->
      s"""WITH cp2 AS (
         |  SELECT o.o_custkey AS src, l.l_partkey + 1000000000 AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |  GROUP BY 1, 2),
         | e AS (SELECT src, dst FROM cp2),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | d AS (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY 1),
         | ${prRounds(5)}
         |SELECT id, round(pr, 6) AS pr FROM r5 ORDER BY id""".stripMargin,

    "kcore3" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | ${kcoreRounds(3, 5)}
         |SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e5 GROUP BY 1 ORDER BY id""".stripMargin,

    // weighted s-core: 2 unrolled peels on sum(weight) >= 110 over the FULL
    // integral-weight co-purchase graph — exact at any equal unroll (the
    // fixpoint here is empty; the round-2 snapshot is the non-trivial gate)
    "wkcore110" ->
      s"""WITH cp AS ($CP),
         | ${wkcoreRounds(110, 2)}
         |SELECT src AS id, CAST(sum(weight) AS BIGINT) AS wdeg FROM e2 GROUP BY 1 ORDER BY id""".stripMargin,

    // 2-hop reach: exact distinct |{u : 1 <= dist <= 2}| per vertex
    // multi-source BFS landmark assignment: md5-sampled seeds, the
    // (dist, seed) lexicographic min carried as ONE packed BIGINT
    // dist·2^44 + seed so each unrolled round is a plain min() — the
    // Spark spelling packs identically (Paths.nearestSeeds)
    "nearest_seed8" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | n0 AS MATERIALIZED (SELECT id,
         |   CASE WHEN ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT % 50 = 0
         |        THEN CAST(id AS BIGINT) ELSE NULL END AS packed FROM v),
         | ${seedRounds(8)}
         |SELECT id, CAST(packed // $SeedShift AS BIGINT) AS dist,
         |  CAST(packed % $SeedShift AS BIGINT) AS seed
         |FROM n8 WHERE packed IS NOT NULL ORDER BY id""".stripMargin,

    "reach2" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | two AS (SELECT a.src AS src, b.dst AS dst
         |   FROM e a JOIN e b ON a.dst = b.src WHERE a.src <> b.dst),
         | r AS (SELECT src, dst FROM e UNION SELECT src, dst FROM two)
         |SELECT src AS id, CAST(count(*) AS BIGINT) AS reach2
         |FROM r GROUP BY 1 ORDER BY id""".stripMargin,

    // reach2 with the hot-mid degree cap engaged (maxMidDeg=8): wedges
    // through a mid of degree > 8 are excluded in BOTH engines
    "reach2_capped" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         | m AS MATERIALIZED (SELECT e.src, e.dst FROM e JOIN d ON d.src = e.src WHERE d.deg <= 8),
         | two AS (SELECT a.dst AS src, b.dst AS dst
         |   FROM m a JOIN m b ON a.src = b.src WHERE a.dst <> b.dst),
         | r AS (SELECT src, dst FROM e UNION SELECT src, dst FROM two)
         |SELECT src AS id, CAST(count(*) AS BIGINT) AS reach2
         |FROM r GROUP BY 1 ORDER BY id""".stripMargin,

    // log2-bucketed degree histogram: bucket = binary-string length —
    // integer-exact, no float log in either engine
    "deg_hist" ->
      s"""WITH $UND
         |SELECT CAST(length(bin(outdeg)) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_vertices
         |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin,

    // component size distribution over the cc closure
    "comp_sizes" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | comp AS (SELECT id, lbl AS component FROM ${components("e")} WHERE done),
         | sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS csize FROM comp GROUP BY 1)
         |SELECT csize, CAST(count(*) AS BIGINT) AS n_comps
         |FROM sizes GROUP BY 1 ORDER BY csize""".stripMargin,

    // snapshot diff: year-windowed co-purchase graphs full-outer diffed
    "graph_diff" ->
      """WITH sa AS MATERIALIZED (
        |   SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        |   FROM lineitem l1 JOIN lineitem l2
        |     ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |   JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |   WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998),
        | sb AS MATERIALIZED (
        |   SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        |   FROM lineitem l1 JOIN lineitem l2
        |     ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |   JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |   WHERE year(o.o_orderdate) BETWEEN 1997 AND 2001)
        |SELECT coalesce(sa.src, sb.src) AS src,
        |  coalesce(sa.dst, sb.dst) AS dst,
        |  CAST(CASE WHEN sa.src IS NULL THEN 1 ELSE -1 END AS BIGINT) AS change
        |FROM sa FULL OUTER JOIN sb ON sa.src = sb.src AND sa.dst = sb.dst
        |WHERE sa.src IS NULL OR sb.src IS NULL
        |ORDER BY src, dst""".stripMargin,

    // full core decomposition, every level peeled to its own fixpoint;
    // coreness = the last level a vertex reaches, minus one
    "coreness" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | core AS $corenessRounds
         |SELECT src AS id, CAST(max(lvl) - 1 AS BIGINT) AS coreness
         |FROM core GROUP BY 1 ORDER BY id""".stripMargin,

    "cc" ->
      ccSql,

    // streaming CC maintenance is a confluent per-batch incremental fold,
    // so its oracle is cc's closure verbatim
    "stream_cc" ->
      ccSql,

    // truncated odd-cycle profile: 8 unrolled HashMin-with-distance rounds
    // over the packed root*2^20+dist state, then same-parity edge counts
    "oddcycle8" -> {
      val rounds = (1 to 8).map { i =>
        s"""m$i AS (SELECT e.dst AS id, min(s.p + 1) AS np
           |   FROM e JOIN s${i - 1} s ON e.src = s.id GROUP BY 1),
           | s$i AS MATERIALIZED (
           |  SELECT s.id,
           |    CASE WHEN m.np IS NULL OR s.p <= m.np THEN s.p ELSE m.np END
           |      AS p
           |  FROM s${i - 1} s LEFT JOIN m$i m ON s.id = m.id)""".stripMargin
      }.mkString(",\n ")
      s"""WITH cp AS MATERIALIZED ($CP),
         | c AS MATERIALIZED (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM c UNION SELECT dst, src FROM c),
         | v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | s0 AS MATERIALIZED (SELECT id, id * 1048576 AS p FROM v),
         | $rounds,
         | fin AS MATERIALIZED (
         |  SELECT id, CAST(p // 1048576 AS BIGINT) AS root,
         |    CAST((p % 1048576) % 2 AS BIGINT) AS par FROM s8),
         | odd AS (
         |  SELECT f1.root AS comp, CAST(count(*) AS BIGINT) AS odd_edges
         |  FROM c JOIN fin f1 ON c.src = f1.id JOIN fin f2 ON c.dst = f2.id
         |  WHERE f1.root = f2.root AND f1.par = f2.par GROUP BY 1),
         | reach AS (
         |  SELECT root AS comp, CAST(count(*) AS BIGINT) AS reached
         |  FROM fin GROUP BY 1)
         |SELECT r.comp, r.reached,
         |  coalesce(o.odd_edges, CAST(0 AS BIGINT)) AS odd_edges
         |FROM reach r LEFT JOIN odd o ON r.comp = o.comp
         |ORDER BY r.comp""".stripMargin
    },

    // incremental CC: the md5 edge hash only PARTITIONS edges between the
    // base run and the delta fold — base ∪ delta = all edges, so the
    // oracle is the plain closure over the unfiltered co-purchase graph
    "cc_incr" ->
      s"""WITH cp AS ($CP),
         | e AS (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp)
         |SELECT id, lbl AS component FROM ${components("e")}
         |WHERE done ORDER BY id""".stripMargin,

    // star-contraction CC reaches the same fixpoint as HashMin — shared
    // closure oracle (cc's SQL verbatim)
    "cc_stars" ->
      ccSql,

    // double-sweep diameter lower bound: two 8-round unrolled BFS chains,
    // far = argmax(dist, min-id tiebreak) of sweep 1
    "diameter2sweep" ->
      s"""WITH $UND,
         | ${bfsChain("p", 8, minSrc)},
         | far AS MATERIALIZED (
         |  SELECT id FROM p8 WHERE dist IS NOT NULL
         |  ORDER BY dist DESC, id LIMIT 1),
         | ${bfsChain("q", 8, "SELECT id FROM far")}
         |SELECT CAST((SELECT min(src) FROM e) AS BIGINT) AS root,
         |  CAST((SELECT id FROM far) AS BIGINT) AS far,
         |  CAST(max(dist) AS BIGINT) AS diameter_lb
         |FROM q8 WHERE dist IS NOT NULL ORDER BY root""".stripMargin,

    // weighted double-sweep: min-plus chains over integral weights; parity
    // needs only equal unroll k in both engines (any k = valid ≤k-hop bound)
    "diameter_w2sweep" ->
      s"""WITH cp AS ($CP),
         | e AS (SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM cp UNION ALL SELECT dst, src, CAST(weight AS DOUBLE) FROM cp),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | ${bfsChain("p", 8, minSrc, "e.w")},
         | far AS MATERIALIZED (
         |  SELECT id FROM p8 WHERE dist IS NOT NULL
         |  ORDER BY dist DESC, id LIMIT 1),
         | ${bfsChain("q", 8, "SELECT id FROM far", "e.w")}
         |SELECT CAST((SELECT min(src) FROM e) AS BIGINT) AS root,
         |  CAST((SELECT id FROM far) AS BIGINT) AS far,
         |  CAST(max(dist) AS BIGINT) AS diameter_lb
         |FROM q8 WHERE dist IS NOT NULL ORDER BY root""".stripMargin,

    "lp5" ->
      s"WITH $UND,\n ${lpRounds(5)}\nSELECT id, label FROM l5 ORDER BY id",

    // seeded (semi-supervised) LP: mod-10 seeds immutable, labels spread
    // only from seeds, unreached vertices -1
    "lp_seeded" ->
      s"""WITH $UND,
         | ${lpSeededRounds(5, 10L)}
         |SELECT id, CAST(coalesce(label, -1) AS BIGINT) AS label
         |FROM l5 ORDER BY id""".stripMargin,

    "wlp5" ->
      s"""WITH cp AS ($CP),
         | e AS (SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM cp UNION ALL SELECT dst, src, CAST(weight AS DOUBLE) FROM cp),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | ${wlpRounds(5)}
         |SELECT id, label FROM l5 ORDER BY id""".stripMargin,

    "tc" ->
      s"""WITH cp AS ($CP), e AS (SELECT src AS a, dst AS b FROM cp)
         |SELECT CAST(count(*) AS BIGINT) AS triangles
         |FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,

    // 4-cliques: tri(a,b,c) with a<b<c under the id orientation, extended
    // by d>c adjacent to all three — each K4 counted once at its sorted
    // order; the count is orientation-invariant, so Spark's degree
    // orientation agrees
    "kclique4" ->
      s"""WITH cp AS ($CP), e AS (SELECT src AS a, dst AS b FROM cp),
         | tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT CAST(count(*) AS BIGINT) AS cliques4
         |FROM tri JOIN e e4 ON e4.a = tri.c
         | JOIN e e5 ON e5.a = tri.a AND e5.b = e4.b
         | JOIN e e6 ON e6.a = tri.b AND e6.b = e4.b""".stripMargin,

    "tc_pervertex" ->
      s"""WITH cp AS ($CP), e AS (SELECT src AS a, dst AS b FROM cp),
         | tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT id, CAST(count(*) AS BIGINT) AS tri_cnt
         |FROM (SELECT unnest([a, b, c]) AS id FROM tri)
         |GROUP BY id ORDER BY id""".stripMargin,

    // local clustering coefficient in integer micro-units: DuckDB's `//`
    // floors like Spark's `div` truncates (non-negative operands), so the
    // score column stays BIGINT-exact in both engines
    "lcc" ->
      s"""WITH cp AS ($CP), e AS (SELECT src AS a, dst AS b FROM cp),
         | d AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
         |   FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         | tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         | t AS (SELECT id, CAST(count(*) AS BIGINT) AS tri_cnt
         |   FROM (SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY 1)
         |SELECT d.id, CAST(coalesce(t.tri_cnt, 0) AS BIGINT) AS tri_cnt, d.deg,
         |  CAST(CASE WHEN d.deg >= 2
         |    THEN (2000000 * coalesce(t.tri_cnt, 0)) // (d.deg * (d.deg - 1))
         |    ELSE 0 END AS BIGINT) AS lcc_micro
         |FROM d LEFT JOIN t ON d.id = t.id ORDER BY d.id""".stripMargin,

    "bfs5" ->
      s"WITH $UND,\n ${bfsChain("d", 5, minSrc)}\nSELECT id, dist FROM d5 WHERE dist IS NOT NULL ORDER BY id",

    "sssp5" ->
      s"""WITH cp AS ($CP),
         | ew AS (SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM cp UNION ALL SELECT dst, src, CAST(weight AS DOUBLE) FROM cp),
         | e AS (SELECT src, dst, w FROM ew),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | ${bfsChain("d", 5, minSrc, "e.w")}
         |SELECT id, dist FROM d5 WHERE dist IS NOT NULL ORDER BY id""".stripMargin,

    // Delta-stepping reaches the identical min-plus fixpoint as the
    // converged run (the bucket schedule changes WORK, never distances),
    // so its oracle is the same relaxation to its fixpoint
    "sssp_delta" -> ssspSql,

    // the converged engine run vs the min-plus relaxation run to its own
    // fixpoint
    "sssp_converged" -> ssspSql,

    // the 3-core peeled until no vertex drops
    "kcore3_converged" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2)
         |SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM ${kcoreFixpoint(3)}
         |WHERE done GROUP BY 1 ORDER BY id""".stripMargin,

    "dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt FROM documents GROUP BY text ORDER BY keep_id",

    // the streaming path must land on the identical final state
    "stream_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt FROM documents GROUP BY text ORDER BY keep_id",

    // streaming tumbling-window agg ≡ the batch groupBy (hour buckets are
    // epoch-aligned; value summed in exact integer cents)
    "stream_window_counts" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hour_bucket,
        | event_type,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin,

    // Strongly connected components on the directed weight-tiered graph
    // (weight≥2 forward + weight≥3 reversed): the oracle is the
    // algorithm-independent DEFINITION — scc(v) = min u with mutual
    // reachability — via a recursive closure (the cc recipe, directed).
    "scc" ->
      s"""WITH cp AS ($CP),
         | e AS (SELECT src, dst FROM cp WHERE weight >= 2
         |       UNION SELECT dst, src FROM cp WHERE weight >= 3),
         | v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | reach AS (SELECT u, v FROM $reachRounds WHERE done)
         |SELECT r1.u AS id, CAST(min(r1.v) AS BIGINT) AS scc
         |FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u
         |GROUP BY r1.u ORDER BY id""".stripMargin,

    // per-edge triangle support incl. zero-support bridges: support of
    // canonical edge (a,b) = |N(a) ∩ N(b)| over the symmetrized graph
    "tri_support" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | c AS MATERIALIZED (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM c UNION SELECT dst, src FROM c),
         | supp AS (
         |  SELECT c.src, c.dst, CAST(count(*) AS BIGINT) AS support
         |  FROM c JOIN e e1 ON e1.src = c.src
         |  JOIN e e2 ON e2.src = c.dst AND e2.dst = e1.dst
         |  GROUP BY 1, 2)
         |SELECT c.src, c.dst,
         |  coalesce(s.support, CAST(0 AS BIGINT)) AS support
         |FROM c LEFT JOIN supp s ON c.src = s.src AND c.dst = s.dst
         |ORDER BY c.src, c.dst""".stripMargin,

    // condensation DAG over the SCC labels (same mutual-reachability
    // closure as the scc oracle): crossing-edge counts per component pair
    "scc_condense" ->
      s"""WITH cp AS ($CP),
         | e AS (SELECT src, dst FROM cp WHERE weight >= 2
         |       UNION SELECT dst, src FROM cp WHERE weight >= 3),
         | v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | reach AS (SELECT u, v FROM $reachRounds WHERE done),
         | lab AS (
         |  SELECT r1.u AS id, CAST(min(r1.v) AS BIGINT) AS scc
         |  FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u
         |  GROUP BY r1.u)
         |SELECT a.scc AS src_scc, b.scc AS dst_scc,
         |  CAST(count(*) AS BIGINT) AS xedges
         |FROM e JOIN lab a ON e.src = a.id JOIN lab b ON e.dst = b.id
         |WHERE a.scc <> b.scc
         |GROUP BY 1, 2 ORDER BY src_scc, dst_scc""".stripMargin,

    // directed dyad census + reciprocity + transitivity on the scc
    // digraph, all exact integers / exact rationals
    // unipartite 4-cycle count: Σ C(cn,2) over diagonal pairs, // 2
    // (two diagonals per C4); deg<=10000 hot-center cap mirrored
    "rectangles" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         | c AS MATERIALIZED (SELECT e.src, e.dst FROM e JOIN d ON d.src = e.src WHERE d.deg <= 10000),
         | pairs AS (SELECT a.dst AS u, b.dst AS w, CAST(count(*) AS BIGINT) AS cn
         |   FROM c a JOIN c b ON a.src = b.src AND a.dst < b.dst GROUP BY 1, 2)
         |SELECT CAST(count(*) AS BIGINT) AS wedge_pairs,
         |  CAST(coalesce(sum((cn*(cn-1))//2), 0) // 2 AS BIGINT) AS rectangles
         |FROM pairs ORDER BY rectangles""".stripMargin,

    // exact discrete degree quantiles over the undirected degree table
    "deg_percentiles" ->
      s"""WITH $UND,
         | hist AS (SELECT CAST(outdeg AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
         |${quantileTail(Seq(25, 50, 75, 90, 99))}""".stripMargin,

    // directed triangle census on the scc digraph: cyclic (a→b→c→a, each
    // counted at 3 rotations → exact //3) vs transitive (a→b→c + a→c)
    // closed-wedge instances; EXISTS = the Spark left-semi closings
    "ditriangles" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM cp WHERE weight >= 2
         |       UNION SELECT dst, src FROM cp WHERE weight >= 3),
         | w AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |       FROM e e1 JOIN e e2 ON e1.dst = e2.src),
         | cyc AS (SELECT CAST(count(*) AS BIGINT) AS c3 FROM w
         |   WHERE EXISTS (SELECT 1 FROM e WHERE e.src = w.c AND e.dst = w.a)),
         | tr AS (SELECT CAST(count(*) AS BIGINT) AS t3 FROM w
         |   WHERE EXISTS (SELECT 1 FROM e WHERE e.src = w.a AND e.dst = w.c))
         |SELECT CAST(c3 // 3 AS BIGINT) AS cyclic3, t3 AS transitive3
         |FROM cyc, tr ORDER BY cyclic3""".stripMargin,

    "digraph_profile" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM cp WHERE weight >= 2
         |       UNION SELECT dst, src FROM cp WHERE weight >= 3),
         | base AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         | mut AS (SELECT CAST(count(*) AS BIGINT) AS m_mut FROM e a
         |   WHERE EXISTS (SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)),
         | u AS MATERIALIZED (SELECT src, dst FROM (
         |       SELECT src, dst FROM e UNION SELECT dst, src FROM e)
         |       WHERE src <> dst),
         | d AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM u GROUP BY 1),
         | ds AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         |   CAST(sum((deg*(deg-1))//2) AS BIGINT) AS wedges FROM d),
         | o AS MATERIALIZED (SELECT src, dst FROM u WHERE src < dst),
         | tri AS (SELECT CAST(count(*) AS BIGINT) AS triangles
         |   FROM o e1 JOIN o e2 ON e1.dst = e2.src
         |   JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst)
         |SELECT n_vertices, m AS m_edges,
         |  CAST(m_mut // 2 AS BIGINT) AS mutual_pairs,
         |  CAST(m - m_mut AS BIGINT) AS asym_pairs,
         |  m_mut AS recip_num, m AS recip_den,
         |  triangles, wedges,
         |  CAST(3 * triangles AS BIGINT) AS trans_num,
         |  wedges AS trans_den
         |FROM base, mut, ds, tri ORDER BY n_vertices""".stripMargin,

    // truncated Katz: per-length directed walk counts on the weight≥2 DAG
    // plus the beta=4 attenuated numerator — exact integers throughout
    "katz4" -> {
      val lvls = (1 to 4).map { l =>
        s"""n$l AS MATERIALIZED (SELECT e.dst AS id, CAST(sum(n.w) AS BIGINT) AS w
           |   FROM e JOIN n${l - 1} n ON n.id = e.src GROUP BY 1)""".stripMargin
      }.mkString(",\n ")
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM cp WHERE weight >= 2),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | n0 AS (SELECT id, CAST(1 AS BIGINT) AS w FROM v),
         | $lvls
         |SELECT v.id,
         |  CAST(coalesce(n1.w, 0) AS BIGINT) AS walks1,
         |  CAST(coalesce(n2.w, 0) AS BIGINT) AS walks2,
         |  CAST(coalesce(n3.w, 0) AS BIGINT) AS walks3,
         |  CAST(coalesce(n4.w, 0) AS BIGINT) AS walks4,
         |  CAST(64*coalesce(n1.w,0) + 16*coalesce(n2.w,0)
         |     + 4*coalesce(n3.w,0) + coalesce(n4.w,0) AS BIGINT) AS katz_num
         |FROM v LEFT JOIN n1 ON n1.id = v.id LEFT JOIN n2 ON n2.id = v.id
         |LEFT JOIN n3 ON n3.id = v.id LEFT JOIN n4 ON n4.id = v.id
         |ORDER BY v.id""".stripMargin
    },

    // k-truss (k=3) on the weight≥2 oriented simple graph, peeled until no
    // edge drops
    "ktruss3" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2)
         |SELECT src, dst, support FROM ${trussRounds(3)}
         |WHERE done ORDER BY src, dst""".stripMargin,

    // the drained keyed-state degree counters ≡ the batch out-degrees
    "stream_degrees" ->
      s"""WITH cp AS ($CP)
         |SELECT src AS id, CAST(count(*) AS BIGINT) AS outdeg
         |FROM cp GROUP BY 1 ORDER BY id""".stripMargin,

    // stream-static join shape: the drained complete-mode rollup equals
    // the batch join+groupBy against the part-brand dim
    "stream_enrich" ->
      s"""WITH cp AS ($CP)
         |SELECT p.p_brand AS attr, CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(cp.weight) AS BIGINT) AS wsum
         |FROM cp JOIN part p ON cp.src = p.p_partkey
         |GROUP BY 1 ORDER BY attr""".stripMargin,

    // streaming heavy hitters: the complete-mode sort+limit's final batch
    // equals the batch top-20 under the (cnt DESC, id ASC) total order
    "stream_topk20" ->
      s"""WITH cp AS ($CP),
         | c AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS cnt
         |       FROM cp GROUP BY 1)
         |SELECT id, cnt FROM c ORDER BY cnt DESC, id LIMIT 20""".stripMargin,

    // neighbor-set Jaccard over the filtered symmetrized graph
    // overlap coefficient (inter / min-degree) in integer micro-units —
    // the graph-side containment twin of dedup_containment
    "g_overlap_sim" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM (
         |                    SELECT src, dst FROM cp WHERE weight >= 2
         |                    UNION SELECT dst, src FROM cp WHERE weight >= 2)
         |                    WHERE src <> dst),
         | deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         | inter AS MATERIALIZED (
         |  SELECT a.src AS v1, b.src AS v2, count(*) AS inter
         |  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT i.v1, i.v2, CAST((i.inter * 1000000) // least(d1.deg, d2.deg) AS BIGINT) AS overlap_micro
         |FROM inter i JOIN deg d1 ON i.v1 = d1.id JOIN deg d2 ON i.v2 = d2.id
         |WHERE (i.inter * 1000000) // least(d1.deg, d2.deg) >= 500000
         |ORDER BY i.v1, i.v2""".stripMargin,

    "g_jaccard_sim" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM (
         |                    SELECT src, dst FROM cp WHERE weight >= 2
         |                    UNION SELECT dst, src FROM cp WHERE weight >= 2)
         |                    WHERE src <> dst),
         | deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         | inter AS MATERIALIZED (
         |  SELECT a.src AS v1, b.src AS v2, count(*) AS inter
         |  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT i.v1, i.v2, round(CAST(i.inter AS DOUBLE) / (d1.deg + d2.deg - i.inter), 6) AS sim
         |FROM inter i JOIN deg d1 ON i.v1 = d1.id JOIN deg d2 ON i.v2 = d2.id
         |WHERE round(CAST(i.inter AS DOUBLE) / (d1.deg + d2.deg - i.inter), 6) >= 0.3
         |ORDER BY i.v1, i.v2""".stripMargin,

    // the capped variant: wedge CENTERS with degree > 8 are excluded
    // from pair generation (the deterministic hot-center cap); degrees in
    // the similarity stay FULL — identical to neighborJaccard(maxDeg=8)
    "g_jaccard_capped" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM (
         |                    SELECT src, dst FROM cp WHERE weight >= 2
         |                    UNION SELECT dst, src FROM cp WHERE weight >= 2)
         |                    WHERE src <> dst),
         | deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         | we AS MATERIALIZED (SELECT a.src, a.dst FROM e a JOIN deg d ON a.dst = d.id WHERE d.deg <= 8),
         | inter AS MATERIALIZED (
         |  SELECT a.src AS v1, b.src AS v2, count(*) AS inter
         |  FROM we a JOIN we b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT i.v1, i.v2, round(CAST(i.inter AS DOUBLE) / (d1.deg + d2.deg - i.inter), 6) AS sim
         |FROM inter i JOIN deg d1 ON i.v1 = d1.id JOIN deg d2 ON i.v2 = d2.id
         |WHERE round(CAST(i.inter AS DOUBLE) / (d1.deg + d2.deg - i.inter), 6) >= 0.3
         |ORDER BY i.v1, i.v2""".stripMargin,

    // one-row exact moment profile: counts, max degree, wedges, and the
    // degree-assortativity Pearson coefficient as an exact rational
    // (symmetrized marginals make the sqrt denominator one integer)
    "graph_profile" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
         | d AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         | t AS (SELECT ds.deg AS x, dd.deg AS y
         |   FROM e JOIN d ds ON ds.id = e.src JOIN d dd ON dd.id = e.dst),
         | mo AS (SELECT CAST(count(*) AS BIGINT) AS m2, CAST(sum(x) AS BIGINT) AS sx,
         |   CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx FROM t),
         | dstats AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         |   CAST(max(deg) AS BIGINT) AS max_deg,
         |   CAST(sum((deg*(deg-1))//2) AS BIGINT) AS wedges FROM d)
         |SELECT n_vertices, m2, max_deg, wedges,
         |  CAST(m2*sxy - sx*sx AS BIGINT) AS assort_num,
         |  CAST(m2*sxx - sx*sx AS BIGINT) AS assort_den
         |FROM mo, dstats ORDER BY n_vertices""".stripMargin,

    // bipartite butterfly count: dst-side pairs via src-centered wedges;
    // C(cn,2) summed as exact BIGINTs, deg<=10000 hot-center cap mirrored
    "butterflies" ->
      """WITH e AS MATERIALIZED (
        |   SELECT o.o_custkey AS src, l.l_partkey + 1000000000 AS dst
        |   FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |   GROUP BY 1, 2),
        | d AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        | c AS MATERIALIZED (SELECT e.src, e.dst FROM e JOIN d ON d.src = e.src WHERE d.deg <= 10000),
        | pairs AS (SELECT a.dst AS v, b.dst AS w, CAST(count(*) AS BIGINT) AS cn
        |   FROM c a JOIN c b ON a.src = b.src AND a.dst < b.dst GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS wedge_pairs,
        |  CAST(coalesce(sum((cn*(cn-1))//2), 0) AS BIGINT) AS butterflies
        |FROM pairs ORDER BY butterflies""".stripMargin,

    // HITS hubs & authorities, unnormalized fixed-4: every score an exact
    // integer (DuckDB HUGEINT sums cast back to BIGINT; 13 digits at k=4)
    "hits4" -> {
      val iters = (1 to 4).map { i =>
        s"""a$i AS MATERIALIZED (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS a
           |   FROM e JOIN h${i - 1} h ON h.id = e.src GROUP BY 1),
           | h$i AS MATERIALIZED (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS h
           |   FROM e JOIN a$i a ON a.id = e.dst GROUP BY 1)""".stripMargin
      }.mkString(",\n ")
      s"""WITH e AS MATERIALIZED (
         |   SELECT o.o_custkey AS src, l.l_partkey + 1000000000 AS dst
         |   FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |   GROUP BY 1, 2),
         | h0 AS (SELECT DISTINCT src AS id, CAST(1 AS BIGINT) AS h FROM e),
         | $iters
         |SELECT id, 'hub' AS kind, h AS score FROM h4
         |UNION ALL SELECT id, 'auth' AS kind, a AS score FROM a4
         |ORDER BY id, kind""".stripMargin
    },

    // truncated longest-path layering of the weight≥2 DAG (src<dst ⇒
    // acyclic): 8 unrolled monotone max-rounds, integer-exact
    "dag_layers8" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM cp WHERE weight >= 2),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | ${layerRounds(8)}
         |SELECT id, CAST(layer AS BIGINT) AS layer FROM l8 ORDER BY id""".stripMargin,

    // deterministic md5-seeded walks: 4 unrolled argmin steps from every
    // id≡0 (mod 20) vertex of the weight≥2 undirected graph
    "walks4" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM (
         |                    SELECT src, dst FROM cp WHERE weight >= 2
         |                    UNION SELECT dst, src FROM cp WHERE weight >= 2)
         |                    WHERE src <> dst),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | w0 AS (SELECT id AS start_id, id AS cur, CAST(id AS VARCHAR) AS path FROM v WHERE id % 20 = 0),
         | ${walkSteps(4)}
         |SELECT start_id, path, cur AS end_id FROM w4 ORDER BY start_id""".stripMargin,

    // Newman modularity of the 5-round LP partition on the weight≥2
    // subgraph, as the exact rational (q_num, q_den) = (m2·Σin_c − Σd_c²,
    // m2²) — every term an integer count, so no float crosses the gate
    "modularity_lp5" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM (
         |                    SELECT src, dst FROM cp WHERE weight >= 2
         |                    UNION SELECT dst, src FROM cp WHERE weight >= 2)
         |                    WHERE src <> dst),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | ${lpRounds(5)},
         | lab AS MATERIALIZED (SELECT id, label FROM l5),
         | intra AS (SELECT CAST(count(*) AS BIGINT) AS inc FROM e
         |   JOIN lab a ON a.id = e.src JOIN lab b ON b.id = e.dst
         |   WHERE a.label = b.label),
         | dcs AS (SELECT a.label, CAST(count(*) AS BIGINT) AS dcsum
         |   FROM e JOIN lab a ON a.id = e.src GROUP BY 1),
         | m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e)
         |SELECT CAST(count(DISTINCT label) AS BIGINT) AS n_comms,
         |  CAST((SELECT m2 FROM m2t) * (SELECT inc FROM intra)
         |     - (SELECT CAST(sum(dcsum*dcsum) AS BIGINT) FROM dcs) AS BIGINT) AS q_num,
         |  CAST((SELECT m2 FROM m2t) * (SELECT m2 FROM m2t) AS BIGINT) AS q_den
         |FROM lab ORDER BY n_comms""".stripMargin,

    // average-neighbor-degree curve: exact micro-unit degree-degree
    // correlation per degree class on the weight>=2 graph
    "knn_degree" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | d AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |   FROM e GROUP BY 1),
         | j AS (SELECT ds.deg AS deg, dd.deg AS nd
         |   FROM e JOIN d ds ON e.src = ds.id JOIN d dd ON e.dst = dd.id)
         |SELECT deg, CAST(count(*) // deg AS BIGINT) AS n_vertices,
         |  CAST(sum(nd) * 1000000 // count(*) AS BIGINT) AS knn_micro
         |FROM j GROUP BY deg ORDER BY deg""".stripMargin,

    // item-to-item co-visitation: top-3 co-purchase partners per part
    "covisit_top3" ->
      s"""WITH cp AS ($CP),
         | sym AS (SELECT src, dst, weight FROM cp
         |         UNION ALL SELECT dst, src, weight FROM cp),
         | r AS (
         |  SELECT src AS id, dst AS rec, CAST(weight AS BIGINT) AS weight,
         |    CAST(row_number() OVER (PARTITION BY src
         |      ORDER BY weight DESC, dst) AS BIGINT) AS rk
         |  FROM sym)
         |SELECT id, rec, weight, rk FROM r WHERE rk <= 3
         |ORDER BY id, rk""".stripMargin,

    // per-event-type value percentiles: grouped percentile_disc over the
    // integer-cents histogram (the Quantiles.discreteBy twin)
    "value_quantiles" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events),
        | hist AS (SELECT event_type AS g, v, CAST(count(*) AS BIGINT) AS cnt
        |   FROM c GROUP BY 1, 2),
        | cum AS (SELECT g, v,
        |   sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum FROM hist),
        | n AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
        | p AS (SELECT n.g, CAST(t.pct AS BIGINT) AS pct,
        |   (n.n * t.pct + 99) // 100 AS target
        |   FROM n, unnest([50, 90, 99]) AS t(pct))
        |SELECT p.g AS event_type, p.pct, CAST(min(c2.v) AS BIGINT) AS value
        |FROM p JOIN cum c2 ON p.g = c2.g AND c2.cum >= p.target
        |GROUP BY 1, 2 ORDER BY event_type, pct""".stripMargin,

    // modularity of the part-brand partition (attribute homophily) over
    // the unfiltered symmetrized co-purchase graph — lp5's exact-rational
    // machinery with a metadata labeling
    "modularity_brand" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM (
         |                    SELECT src, dst FROM cp
         |                    UNION SELECT dst, src FROM cp)
         |                    WHERE src <> dst),
         | lab AS MATERIALIZED (
         |  SELECT p_partkey AS id, p_brand AS label FROM part),
         | intra AS (SELECT CAST(count(*) AS BIGINT) AS inc FROM e
         |   JOIN lab a ON a.id = e.src JOIN lab b ON b.id = e.dst
         |   WHERE a.label = b.label),
         | dcs AS (SELECT a.label, CAST(count(*) AS BIGINT) AS dcsum
         |   FROM e JOIN lab a ON a.id = e.src GROUP BY 1),
         | m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e)
         |SELECT CAST(count(DISTINCT label) AS BIGINT) AS n_comms,
         |  CAST((SELECT m2 FROM m2t) * (SELECT inc FROM intra)
         |     - (SELECT CAST(sum(dcsum*dcsum) AS BIGINT) FROM dcs) AS BIGINT) AS q_num,
         |  CAST((SELECT m2 FROM m2t) * (SELECT m2 FROM m2t) AS BIGINT) AS q_den
         |FROM lab ORDER BY n_comms""".stripMargin,

    // link prediction on the same weight≥2 graph: common-neighbor count +
    // Resource Allocation in integer micro-units (1000000 // deg per
    // common neighbor — DuckDB `//` floors like Spark `div` truncates on
    // non-negative operands); non-adjacent pairs only, deterministic
    // top-100 under the total (ra, cn, u, v) order
    "link_pred" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst FROM (
         |                    SELECT src, dst FROM cp WHERE weight >= 2
         |                    UNION SELECT dst, src FROM cp WHERE weight >= 2)
         |                    WHERE src <> dst),
         | deg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         | leg AS MATERIALIZED (SELECT e.src AS ctr, e.dst AS nbr, d.deg
         |   FROM e JOIN deg d ON d.id = e.src WHERE d.deg <= 10000),
         | pairs AS (SELECT a.nbr AS u, b.nbr AS v,
         |     CAST(count(*) AS BIGINT) AS cn,
         |     CAST(sum(1000000 // a.deg) AS BIGINT) AS ra_micro
         |   FROM leg a JOIN leg b ON a.ctr = b.ctr AND a.nbr < b.nbr
         |   GROUP BY 1, 2)
         |SELECT u, v, cn, ra_micro
         |FROM pairs p ANTI JOIN e ON e.src = p.u AND e.dst = p.v
         |ORDER BY ra_micro DESC, cn DESC, u, v LIMIT 100""".stripMargin,

    // truncated harmonic centrality: multi-root BFS unrolled 4 levels,
    // scored in exact integer micro-units (round(1e6/d) summed as BIGINT)
    "harmonic8" ->
      s"""WITH $UND,
         | roots AS MATERIALIZED (SELECT id AS root FROM v ORDER BY id LIMIT 8),
         | ${harmonicRounds(4)}
         |SELECT v.id, coalesce(s.harmonic, 0) AS harmonic FROM v LEFT JOIN (
         |  SELECT id, CAST(sum(CAST(round(1000000.0 / dist, 0) AS BIGINT)) AS BIGINT) AS harmonic
         |  FROM h4 WHERE dist > 0 GROUP BY id) s ON v.id = s.id ORDER BY v.id""".stripMargin,

    // truncated closeness over the same 8-root sample / 4-hop levels as
    // harmonic8 — exact integer (reached, sum_dist)
    "closeness8" ->
      s"""WITH $UND,
         | roots AS MATERIALIZED (SELECT id AS root FROM v ORDER BY id LIMIT 8),
         | ${harmonicRounds(4)}
         |SELECT v.id, CAST(coalesce(s.reached, 0) AS BIGINT) AS reached,
         |  CAST(coalesce(s.sum_dist, 0) AS BIGINT) AS sum_dist
         |FROM v LEFT JOIN (
         |  SELECT id, CAST(count(*) AS BIGINT) AS reached, CAST(sum(dist) AS BIGINT) AS sum_dist
         |  FROM h4 WHERE dist > 0 GROUP BY id) s ON v.id = s.id ORDER BY v.id""".stripMargin,

    // Jones–Plassmann coloring with md5 priorities, run until every
    // vertex is colored
    "coloring_md5" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED ($cpfSym),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e)
         |SELECT id, color FROM $jpRounds WHERE done ORDER BY id""".stripMargin,

    // Luby MIS with md5 priorities, run until every vertex is decided
    "mis" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED ($cpfSym),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e)
         |SELECT id, CAST(CASE WHEN st THEN 1 ELSE 0 END AS BIGINT) AS in_mis
         |FROM $misRounds WHERE done ORDER BY id""".stripMargin,

    // greedy maximal matching, run until no edge is active
    "matching" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2)
         |SELECT src, dst FROM ${matchRounds(matchEdges)}
         |WHERE done AND won ORDER BY src, dst""".stripMargin,

    // greedy b-matching, capacity 2 per vertex, run until no edge is active
    "matching_b2" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2)
         |SELECT src, dst FROM ${matchBRounds(2)}
         |WHERE done AND won ORDER BY src, dst""".stripMargin,

    // greedy MAX-WEIGHT maximal matching (locally-dominant edges, weight
    // then md5-prefix priority), run until no edge is active
    "matching_w" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpfw AS (SELECT src, dst, CAST(weight AS BIGINT) AS weight FROM cp WHERE weight >= 2)
         |SELECT src, dst, weight FROM ${matchRounds(s"SELECT src, dst, weight, $weightedPrio AS p FROM cpfw")}
         |WHERE done AND won ORDER BY src, dst""".stripMargin,

    // Borůvka minimum spanning forest on the weight≥2 graph: unique MSF
    // under the packed distinct priorities, contracted until no edge is
    // left
    "msf" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpfw AS (SELECT src, dst, CAST(weight AS BIGINT) AS weight FROM cp WHERE weight >= 2)
         |SELECT src, dst, weight FROM $msfRounds
         |WHERE done AND cu IS NULL ORDER BY src, dst""".stripMargin,

    // weighted truncated harmonic centrality (min-plus, integral weights
    // keep the micro-unit scores exact)
    "harmonic_w8" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | e AS MATERIALIZED (SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM cp UNION ALL SELECT dst, src, CAST(weight AS DOUBLE) FROM cp),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | roots AS MATERIALIZED (SELECT id AS root FROM v ORDER BY id LIMIT 8),
         | ${harmonicWRounds(4)}
         |SELECT v.id, coalesce(s.harmonic, 0) AS harmonic FROM v LEFT JOIN (
         |  SELECT id, CAST(sum(CAST(round(1000000.0 / dist, 0) AS BIGINT)) AS BIGINT) AS harmonic
         |  FROM h4 WHERE dist > 0 GROUP BY id) s ON v.id = s.id ORDER BY v.id""".stripMargin,

    // exact two-phase distinct aggregate (§2.6)
    "distinct_users" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "dedup_jaccard3" ->
      s"WITH $TOKS,\n ${shCte(3)},\n$JaccTail\n${jaccSelect("")}",

    // asymmetric containment in integer micro-units: 1e6·|S(a)∩S(b)| // |S(a)|,
    // DIRECTED rows at >= 500000 (both directions from one undirected count)
    "dedup_containment" ->
      s"""WITH $TOKS,
         | ${shCte(3)},
         | inter AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         | bidi AS (SELECT doc1, doc2, inter FROM inter
         |   UNION ALL SELECT doc2, doc1, inter FROM inter),
         | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         |SELECT b.doc1 AS src_doc, b.doc2 AS dst_doc,
         |  CAST(b.inter AS BIGINT) AS inter,
         |  CAST(1000000 * b.inter // s.n AS BIGINT) AS containment_micro
         |FROM bidi b JOIN sizes s ON s.doc_id = b.doc1
         |WHERE 1000000 * b.inter // s.n >= 500000
         |ORDER BY src_doc, dst_doc""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $TOKS,
         | ${shCte(3)},
         | mh AS (
         |  SELECT doc_id, t.i AS i, min(md5(CAST(t.i AS VARCHAR) || ':' || shingle)) AS h
         |  FROM sh, unnest(generate_series(0, 15)) AS t(i) GROUP BY doc_id, t.i),
         | cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM mh a JOIN mh b ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id),
         |$JaccTail
         |${jaccSelect("JOIN cand c ON i.doc1 = c.doc1 AND i.doc2 = c.doc2")}""".stripMargin,

    // near-dup clusters: the minhash pair set (dedup_minhash's SQL),
    // closed transitively (recursive min-label reachability — cc's oracle
    // shape), every document mapped to its cluster min (or itself)
    "dedup_clusters" ->
      s"""WITH $TOKS,
         | ${shCte(3)},
         | mh AS (
         |  SELECT doc_id, t.i AS i, min(md5(CAST(t.i AS VARCHAR) || ':' || shingle)) AS h
         |  FROM sh, unnest(generate_series(0, 15)) AS t(i) GROUP BY doc_id, t.i),
         | cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM mh a JOIN mh b ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id),
         |$JaccTail,
         | pairs AS MATERIALIZED (
         |  SELECT i.doc1, i.doc2 FROM inter i
         |  JOIN cand c ON i.doc1 = c.doc1 AND i.doc2 = c.doc2
         |  JOIN sizes s1 ON i.doc1 = s1.doc_id JOIN sizes s2 ON i.doc2 = s2.doc_id
         |  WHERE round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) >= 0.5),
         | pe AS MATERIALIZED (SELECT doc1 AS src, doc2 AS dst FROM pairs UNION SELECT doc2, doc1 FROM pairs)
         |SELECT d.doc_id, coalesce(m.keep_id, d.doc_id) AS keep_id
         |FROM documents d LEFT JOIN (
         |  SELECT id, lbl AS keep_id FROM ${components("pe")} WHERE done) m ON d.doc_id = m.id
         |ORDER BY d.doc_id""".stripMargin,

    // the drained per-row streaming minhash ≡ the batch md5 signatures
    "stream_minhash" ->
      s"""WITH $TOKS,
         | ${shCte(3)},
         | mh AS (
         |  SELECT doc_id, t.i AS i, min(md5(CAST(t.i AS VARCHAR) || ':' || shingle)) AS h
         |  FROM sh, unnest(generate_series(0, 15)) AS t(i) GROUP BY doc_id, t.i)
         |SELECT doc_id, CAST(i AS BIGINT) AS i, h FROM mh ORDER BY doc_id, i""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $TOKS,
         | ${shCte(3)},
         | tok AS (
         |  SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h FROM (
         |    SELECT doc_id, unnest(ts) AS tok FROM toks) GROUP BY doc_id, tok),
         | votes AS (
         |  SELECT doc_id,
         |    $SimhashVotes
         |  FROM tok GROUP BY doc_id),
         | s AS (SELECT doc_id, $SimhashBits AS simhash FROM votes),
         | cand AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
         |$JaccTail
         |${jaccSelect("JOIN cand c ON i.doc1 = c.doc1 AND i.doc2 = c.doc2")}""".stripMargin,

    // per-doc top-3 TF·IDF terms; idf = (N·10⁶)//df integer micro-units
    // (DuckDB `//` floor ≡ Spark `div` truncation on non-negatives)
    "tfidf_top3" ->
      s"""WITH $TOKS,
         | tk AS (SELECT doc_id, unnest(ts) AS term FROM toks),
         | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
         | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         | nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         | sc AS (SELECT t.doc_id, t.term, t.tf, d.df,
         |   CAST(t.tf * ((nd.n_docs * 1000000) // d.df) AS BIGINT) AS score_micro
         |   FROM tf t JOIN df d ON t.term = d.term, nd),
         | r AS (SELECT doc_id, term, tf, df, score_micro,
         |   CAST(row_number() OVER (PARTITION BY doc_id
         |     ORDER BY score_micro DESC, term) AS BIGINT) AS rank FROM sc)
         |SELECT doc_id, rank, term, tf, df, score_micro
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // 40-token context-window chunking: ceil-division chunk count keeps
    // every operand non-negative (floor vs trunc division diverges on
    // negatives); md5 fingerprints the space-joined window
    "chunk40" ->
      s"""WITH $TOKS,
         | n AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM toks),
         | c AS (SELECT doc_id, ts, n, unnest(generate_series(1, (n + 39) // 40)) AS chunk_idx FROM n)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(least(40, n - (chunk_idx - 1) * 40) AS BIGINT) AS n_tok,
         |  md5(array_to_string(ts[((chunk_idx - 1) * 40 + 1):(chunk_idx * 40)], ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // deterministic md5 train/valid/test split — 60-bit md5 prefix of the
    // stringified id mod 10 (the md5Prio twin), 8/1/1
    "doc_split" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket,
        |  CASE WHEN bucket < 8 THEN 'train'
        |       WHEN bucket < 9 THEN 'valid' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // train↔test contamination: distinct shared 8-grams per (test, train)
    // doc pair across the md5 hash split; hot-shingle cap df≤100 mirrored
    "contamination8" -> {
      val sh8 = shCte(8)
      s"""WITH $TOKS,
         | $sh8,
         | sp AS (SELECT doc_id,
         |   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS bucket
         |   FROM documents),
         | tr AS MATERIALIZED (SELECT s.doc_id AS train_doc, s.shingle
         |   FROM sh s JOIN sp ON sp.doc_id = s.doc_id WHERE sp.bucket < 8),
         | te AS MATERIALIZED (SELECT s.doc_id AS test_doc, s.shingle
         |   FROM sh s JOIN sp ON sp.doc_id = s.doc_id WHERE sp.bucket >= 9),
         | kept AS (SELECT shingle FROM tr GROUP BY 1 HAVING count(*) <= 100),
         | trk AS (SELECT train_doc, shingle FROM tr
         |   WHERE shingle IN (SELECT shingle FROM kept))
         |SELECT te.test_doc, trk.train_doc, CAST(count(*) AS BIGINT) AS shared_ngrams
         |FROM te JOIN trk ON te.shingle = trk.shingle
         |GROUP BY 1, 2 ORDER BY test_doc, train_doc""".stripMargin
    },

    "text_stats" ->
      s"""WITH $TOKS,
         | base AS (
         |  SELECT d.doc_id,
         |    CAST(length(d.text) AS BIGINT) AS n_chars_m,
         |    CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(d.text, '[^a-zA-Z0-9\\s]', 0)) AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(t.ts, x -> list_contains([$Stop], x))) AS BIGINT) AS n_stopwords
         |  FROM documents d JOIN toks t ON d.doc_id = t.doc_id),
         | ratios AS (
         |  SELECT doc_id, n_chars_m, n_tokens, n_punct, n_stopwords,
         |    coalesce(round(n_punct * 1.0 / nullif(n_chars_m, 0), 6), 0.0) AS punct_ratio,
         |    coalesce(round(n_stopwords * 1.0 / nullif(n_tokens, 0), 6), 0.0) AS stopword_ratio
         |  FROM base)
         |SELECT doc_id, n_chars_m, n_tokens, n_punct, n_stopwords, punct_ratio, stopword_ratio,
         |  round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio), 6) AS quality_score
         |FROM ratios ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      s"""WITH $TOKS,
         | sc AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(ts, x -> list_contains(['der','die','das','und','ist','nicht','ein'], x))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(ts, x -> list_contains(['the','a','of','and','in','to','is'], x))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(ts, x -> list_contains(['el','los','las','y','es','una','que'], x))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(ts, x -> list_contains(['le','la','et','les','des','est','un'], x))) AS BIGINT) AS s_fr
         |  FROM toks)
         |SELECT doc_id, s_de, s_en, s_es, s_fr,
         |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr) AND s_de > 0 THEN 'de'
         |       WHEN s_en >= greatest(s_es, s_fr) AND s_en > 0 THEN 'en'
         |       WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |       WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin,

    // batch sessionization, 4-hour gap (a gap STRICTLY greater than
    // gapSeconds starts a new session — session_window's boundary is
    // inclusive); epoch-micro starts, integer cents. stream_sessions is
    // the session_window spelling of the same merge rule and shares this
    // statement verbatim.
    // ordered conversion funnel: chained strictly-after first-hit mins,
    // -1 sentinels; epoch micros only
    "funnel3" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        | users AS (SELECT DISTINCT user_id FROM e),
        | s1 AS (SELECT user_id, min(us) AS t1 FROM e
        |   WHERE event_type = 'view' GROUP BY 1),
        | s2 AS (SELECT e.user_id, min(e.us) AS t2
        |   FROM e JOIN s1 ON e.user_id = s1.user_id
        |   WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
        | s3 AS (SELECT e.user_id, min(e.us) AS t3
        |   FROM e JOIN s2 ON e.user_id = s2.user_id
        |   WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1)
        |SELECT u.user_id,
        |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
        |            WHEN s2.t2 IS NOT NULL THEN 2
        |            WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS stage,
        |  coalesce(s1.t1, -1) AS t1, coalesce(s2.t2, -1) AS t2,
        |  coalesce(s3.t3, -1) AS t3
        |FROM users u
        |LEFT JOIN s1 ON u.user_id = s1.user_id
        |LEFT JOIN s2 ON u.user_id = s2.user_id
        |LEFT JOIN s3 ON u.user_id = s3.user_id
        |ORDER BY u.user_id""".stripMargin,

    // day-k retention cohorts over integer epoch days
    "retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        | fst AS (SELECT user_id, min(day) AS cohort_day
        |   FROM act GROUP BY 1),
        | flags AS (
        |  SELECT a.user_id, f.cohort_day,
        |    max(CASE WHEN a.day = f.cohort_day + 1 THEN 1 ELSE 0 END) AS f1,
        |    max(CASE WHEN a.day = f.cohort_day + 7 THEN 1 ELSE 0 END) AS f7
        |  FROM act a JOIN fst f ON a.user_id = f.user_id GROUP BY 1, 2)
        |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
        |  CAST(count(*) AS BIGINT) AS users, CAST(sum(f1) AS BIGINT) AS d1,
        |  CAST(sum(f7) AS BIGINT) AS d7
        |FROM flags GROUP BY 1 ORDER BY cohort_day""".stripMargin,

    // JSON property rollup: the json-extension twin of get_json_object
    "props_rollup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS k_sum, CAST(min(k) AS BIGINT) AS k_min,
        |  CAST(max(k) AS BIGINT) AS k_max
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "sessionize" -> SessionizeSql,

    "stream_sessions" -> SessionizeSql,

    // corpus-wide top-50 bigram counts over the TOKS tokenization
    // (non-distinct — every occurrence counts, unlike the shingle CTEs)
    "topk_bigrams" ->
      s"""WITH $TOKS,
         | idx AS (SELECT doc_id, ts, unnest(generate_series(1, CAST(len(ts) AS BIGINT) - 1)) AS i
         |   FROM toks WHERE len(ts) >= 2),
         | bg AS (SELECT ts[i] || ' ' || ts[i+1] AS gram FROM idx)
         |SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1
         |ORDER BY cnt DESC, gram LIMIT 50""".stripMargin,

    // bigram collocation lift in staged per-million integer rates (exact
    // in both engines: `//` ≡ `div` on non-negative operands; rates ≤ 10⁶
    // keep every product under the BIGINT ceiling at any corpus size);
    // zero rates filtered BEFORE dividing (DuckDB `// 0` throws)
    "bigram_lift" ->
      s"""WITH $TOKS,
         | idx AS (SELECT doc_id, ts, unnest(generate_series(1, CAST(len(ts) AS BIGINT))) AS i FROM toks),
         | occ AS (SELECT doc_id, i, ts[i] AS w FROM idx),
         | uni AS (SELECT w, CAST(count(*) AS BIGINT) AS ucnt FROM occ GROUP BY 1),
         | tot AS (SELECT CAST(sum(ucnt) AS BIGINT) AS t_tok FROM uni),
         | bg AS (SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS cnt
         |   FROM occ a JOIN occ b ON a.doc_id = b.doc_id AND b.i = a.i + 1 GROUP BY 1, 2),
         | tbg AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_bg FROM bg),
         | r AS (SELECT w1, w2, cnt,
         |   (cnt * 1000000) // t_bg AS r_xy,
         |   (u1.ucnt * 1000000) // t_tok AS r_x,
         |   (u2.ucnt * 1000000) // t_tok AS r_y
         |   FROM bg JOIN uni u1 ON bg.w1 = u1.w JOIN uni u2 ON bg.w2 = u2.w, tot, tbg
         |   WHERE cnt >= 5)
         |SELECT w1 || ' ' || w2 AS gram, cnt,
         |  CAST((r_xy * 1000000000000) // (r_x * r_y) AS BIGINT) AS lift_micro
         |FROM r WHERE r_x > 0 AND r_y > 0
         |ORDER BY lift_micro DESC, gram LIMIT 50""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 0)) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // top-50 skip-gram co-occurrence pairs within a 7-token window,
    // canonical (least, greatest) orientation, per-occurrence counts
    "cooccur7" ->
      s"""WITH $TOKS,
         | p AS MATERIALIZED (
         |  SELECT doc_id, i, ts[i] AS w FROM (
         |   SELECT doc_id, ts,
         |     unnest(generate_series(1, CAST(len(ts) AS BIGINT))) AS i
         |   FROM toks)),
         | pr AS (
         |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
         |  FROM p a JOIN p b
         |    ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 7)
         |SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
         |FROM pr GROUP BY 1, 2 ORDER BY cnt DESC, w1, w2 LIMIT 50"""
        .stripMargin,

    // within-doc 5-gram repetition ratio: repeated positions over total
    // positions, integer micro-units; < 5-token docs have no positions
    "repetition5" ->
      s"""WITH $TOKS,
         | ${shCte(5)},
         | tot AS (
         |  SELECT doc_id, CAST(len(ts) - 4 AS BIGINT) AS total
         |  FROM toks WHERE len(ts) >= 5),
         | dgr AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS distinct_grams
         |  FROM sh GROUP BY 1)
         |SELECT t.doc_id, t.total, d.distinct_grams,
         |  (t.total - d.distinct_grams) * 1000000 // t.total AS rep_micro
         |FROM tot t JOIN dgr d ON t.doc_id = d.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // per-doc boilerplate fraction: distinct 5-gram shingles recurring in
    // >= 3 corpus docs, micro-unit ratio via truncating integer division
    "boilerplate5" ->
      s"""WITH $TOKS,
         | ${shCte(5)},
         | df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
         | per AS (
         |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS grams,
         |    CAST(sum(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS dup_grams
         |  FROM sh JOIN df ON sh.shingle = df.shingle GROUP BY 1)
         |SELECT doc_id, grams, dup_grams,
         |  dup_grams * 1000000 // grams AS frac_micro
         |FROM per ORDER BY doc_id""".stripMargin,

    // GPT-style sequence packing: md5-sharded concat-and-cut layout into
    // 2048-token windows; one running-sum window partitioned by shard
    "pack2048" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS tok,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
        |  FROM documents),
        | c AS (
        |  SELECT doc_id, shard, tok,
        |    sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                   ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE tok > 0)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, tok,
        |  CAST((cum - tok) // 2048 AS BIGINT) AS bin_first,
        |  CAST((cum - 1) // 2048 AS BIGINT) AS bin_last,
        |  CAST((cum - tok) % 2048 AS BIGINT) AS bin_off
        |FROM c ORDER BY doc_id""".stripMargin,

    // stratified per-language sample: md5 keyed by (pred_lang : doc_id)
    // — per-stratum independent, deterministic in both engines
    "stratified_sample" ->
      s"""WITH $TOKS,
         | sc AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(ts, x -> list_contains(['der','die','das','und','ist','nicht','ein'], x))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(ts, x -> list_contains(['the','a','of','and','in','to','is'], x))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(ts, x -> list_contains(['el','los','las','y','es','una','que'], x))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(ts, x -> list_contains(['le','la','et','les','des','est','un'], x))) AS BIGINT) AS s_fr
         |  FROM toks),
         | lid AS (
         |  SELECT doc_id,
         |    CASE WHEN s_de >= greatest(s_en, s_es, s_fr) AND s_de > 0 THEN 'de'
         |         WHEN s_en >= greatest(s_es, s_fr) AND s_en > 0 THEN 'en'
         |         WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |         WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS pred_lang
         |  FROM sc)
         |SELECT doc_id, pred_lang FROM lid
         |WHERE ('0x' || substr(md5(pred_lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 = 0
         |ORDER BY doc_id""".stripMargin,

    // document length distribution as exact discrete quantiles
    // (percentile_disc via histogram prefix sum — the Quantiles spelling)
    "doc_len_quantiles" ->
      s"""WITH t AS (SELECT CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS v FROM documents),
         | hist AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
         |${quantileTail(Seq(25, 50, 75, 90, 99))}""".stripMargin,

    "pipeline_clean" ->
      s"""WITH $TOKS,
         | sc AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(ts, x -> list_contains(['der','die','das','und','ist','nicht','ein'], x))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(ts, x -> list_contains(['the','a','of','and','in','to','is'], x))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(ts, x -> list_contains(['el','los','las','y','es','una','que'], x))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(ts, x -> list_contains(['le','la','et','les','des','est','un'], x))) AS BIGINT) AS s_fr
         |  FROM toks),
         | en AS (
         |  SELECT doc_id FROM sc
         |  WHERE NOT (s_de >= greatest(s_en, s_es, s_fr) AND s_de > 0)
         |    AND s_en >= greatest(s_es, s_fr) AND s_en > 0),
         | kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         | base AS (
         |  SELECT d.doc_id,
         |    CAST(length(d.text) AS BIGINT) AS n_chars_m,
         |    CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(d.text, '[^a-zA-Z0-9\\s]', 0)) AS BIGINT) AS n_punct
         |  FROM documents d JOIN toks t ON d.doc_id = t.doc_id),
         | q AS (
         |  SELECT doc_id, round(least(1.0, n_tokens / 100.0) *
         |    (1.0 - coalesce(round(n_punct * 1.0 / nullif(n_chars_m, 0), 6), 0.0)), 6) AS quality_score
         |  FROM base)
         |SELECT q.doc_id, q.quality_score FROM q
         |WHERE q.doc_id IN (SELECT doc_id FROM en)
         |  AND q.doc_id IN (SELECT doc_id FROM kept)
         |  AND q.quality_score >= 0.5
         |ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"""WITH $TOKS,
         | ${shCte(4)}
         |SELECT doc_id, array_to_string(list_sort(list(md5(shingle)))[1:4], ',') AS fingerprint
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "corpus_sha" ->
      "SELECT doc_id, sha256(text) AS sha FROM documents ORDER BY doc_id",

    // --- G8 corpus derivations (the spec-mandated input shape), corpus
    // regenerated inside DuckDB from generate_series + md5/sha256 ---------
    "g_import_corpus" ->
      s"""WITH $CorpusCte,
         | imp AS (
         |  SELECT DISTINCT
         |    'f:' || repo || '/' || path AS srckey,
         |    'f:' || repo || '/' ||
         |      ('src/pkg' || CAST(t % 7 AS VARCHAR) || '/File' || CAST(t AS VARCHAR) || '.' ||
         |       (['scala','java','py','c'])[CAST(t % 4 AS INTEGER) + 1]) AS dstkey
         |  FROM (SELECT repo, path, j, unnest([(j*7+1) % 30, (j*13+3) % 30]) AS t FROM paths)
         |  WHERE t <> j)
         |SELECT s.id AS src, d.id AS dst, CAST(1 AS BIGINT) AS weight
         |FROM imp JOIN ids s ON s.key = imp.srckey JOIN ids d ON d.key = imp.dstkey
         |ORDER BY src, dst""".stripMargin,

    "g_cochange_corpus" ->
      s"""WITH $CorpusCte,
         | commits AS (
         |  SELECT CAST(x // 8 AS BIGINT) AS i, CAST(x % 8 AS BIGINT) AS k,
         |    substr(sha256('42:' || printf('repo-%04d', CAST(x // 8 AS BIGINT)) || '@' || CAST(x % 8 AS VARCHAR)), 1, 40) AS commit
         |  FROM unnest(generate_series(0, 20*8 - 1)) AS t(x)),
         | touched AS (
         |  SELECT p.repo, p.path, p.j, c.k, c.commit
         |  FROM paths p JOIN commits c ON p.i = c.i
         |  WHERE (p.j % 8 = c.k) OR
         |    substr(md5('42:' || p.repo || ':' || CAST(p.j AS VARCHAR) || ':' || CAST(c.k AS VARCHAR)), 1, 1) IN ('0','1','2','3','4')),
         | fc AS (
         |  SELECT repo, commit, key, row_number() OVER (PARTITION BY repo, commit ORDER BY key) AS rn
         |  FROM (SELECT DISTINCT repo, commit, 'f:' || repo || '/' || path AS key FROM touched)),
         | fi AS (SELECT f.repo, f.commit, i.id FROM fc f JOIN ids i ON f.key = i.key WHERE f.rn <= 64)
         |SELECT a.id AS src, b.id AS dst, CAST(count(*) AS BIGINT) AS weight
         |FROM fi a JOIN fi b ON a.repo = b.repo AND a.commit = b.commit AND a.id < b.id
         |GROUP BY 1, 2 ORDER BY src, dst""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(substr(text, 1, 64))) AS BIGINT) AS payload_bytes,
        |  md5(substr(text, 1, 64)) AS payload_md5,
        |  CAST(floor(octet_length(encode(substr(text, 1, 64))) / 16.0) AS BIGINT) + 1 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // exact-integer Lloyd k-means over quantized embeddings: bit-exact
    // twin of graft.ann.KMeans (k=8, two assignment rounds)
    "kmeans8" -> kmeansSql(8, 2, 10000L, 10000L),

    // product quantization: 4 independent subspace k-means chains joined
    // into code tuples + summed reconstruction error
    "pq4" -> pqSql(4, 16, 4, 2),

    // landmark distance oracle: 8-root/4-hop BFS tables (harmonic8's
    // machinery), triangle-inequality min over common landmarks for the
    // md5 mod-25 sampled pair set
    "landmark_dist" ->
      s"""WITH $UND,
         | roots AS MATERIALIZED (SELECT id AS root FROM v ORDER BY id LIMIT 8),
         | ${harmonicRounds(4)},
         | dt AS (SELECT root, id, CAST(dist AS BIGINT) AS d
         |   FROM h4 WHERE dist IS NOT NULL),
         | sm AS (SELECT id FROM v
         |   WHERE ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
         |     % 25 = 0),
         | da AS (SELECT dt.root, dt.id AS a, dt.d AS dla
         |   FROM dt JOIN sm ON dt.id = sm.id),
         | db AS (SELECT dt.root, dt.id AS b, dt.d AS dlb
         |   FROM dt JOIN sm ON dt.id = sm.id)
         |SELECT da.a, db.b, CAST(min(da.dla + db.dlb) AS BIGINT) AS est_dist
         |FROM da JOIN db ON da.root = db.root WHERE da.a < db.b
         |GROUP BY 1, 2 ORDER BY a, b""".stripMargin,

    // strided keyframe sampling: 16-byte frames over the utf-8 payload
    // (docs are pure ASCII, so the text twin is byte-identical), every
    // 4th frame fingerprinted
    "frame_sample4" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 64) AS s FROM documents),
        | f AS (
        |  SELECT doc_id, s,
        |    unnest(generate_series(0,
        |      (CAST(len(s) AS BIGINT) + 15) // 16 - 1)) AS frame_idx
        |  FROM t)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(len(substr(s, CAST(frame_idx * 16 + 1 AS BIGINT), 16))
        |    AS BIGINT) AS frame_bytes,
        |  md5(substr(s, CAST(frame_idx * 16 + 1 AS BIGINT), 16))
        |    AS frame_md5
        |FROM f WHERE frame_idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // deterministic md5-keyed negative edge sampling over the dense
    // vertex-rank space (rank = row_number over the STRING-sorted id —
    // the denseIds sort-pin twin); known edges rejected, first 2 trials
    // kept per vertex
    "neg_sample2" ->
      s"""WITH cp AS ($CP),
         | e AS MATERIALIZED (
         |  SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
         | v AS (SELECT DISTINCT src AS id FROM e),
         | n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         | r AS (
         |  SELECT id, CAST(row_number()
         |    OVER (ORDER BY CAST(id AS VARCHAR)) AS BIGINT) - 1 AS rk
         |  FROM v),
         | cand AS (
         |  SELECT v.id, t.t,
         |    ('0x' || substr(md5(CAST(v.id AS VARCHAR) || ':' ||
         |      CAST(t.t AS VARCHAR)), 1, 15))::BIGINT % (SELECT n FROM n)
         |      AS ci
         |  FROM v, unnest(generate_series(0, 7)) AS t(t)),
         | cu AS (
         |  SELECT c.id, c.t, r.id AS neg
         |  FROM cand c JOIN r ON c.ci = r.rk),
         | ok AS (
         |  SELECT cu.id, cu.t, cu.neg FROM cu
         |  WHERE cu.neg <> cu.id AND NOT EXISTS (
         |    SELECT 1 FROM e WHERE e.src = cu.id AND e.dst = cu.neg)),
         | kk AS (
         |  SELECT id, neg, t,
         |    row_number() OVER (PARTITION BY id ORDER BY t) AS rn
         |  FROM ok)
         |SELECT id, neg AS neg_id, CAST(t AS BIGINT) AS trial
         |FROM kk WHERE rn <= 2 ORDER BY id, trial""".stripMargin,

    "embed_neardup" ->
      s"""WITH pr AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2, a.embedding AS ea, b.embedding AS eb
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
         |$CosTail
         |SELECT v1, v2, cos FROM (
         |  SELECT d.v1, d.v2, round(d.dot / (n1.nrm * n2.nrm), 6) AS cos
         |  FROM dots d JOIN norms n1 ON d.v1 = n1.vec_id JOIN norms n2 ON d.v2 = n2.vec_id)
         |WHERE cos >= 0.4 ORDER BY v1, v2""".stripMargin,

    "ann_top5" ->
      s"""WITH pr AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2, a.embedding AS ea, b.embedding AS eb
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
         |$CosTail
         |SELECT query_id, neighbor_id, rk, cos FROM (
         |  SELECT d.v1 AS query_id, d.v2 AS neighbor_id,
         |    round(d.dot / (n1.nrm * n2.nrm), 6) AS cos,
         |    CAST(row_number() OVER (PARTITION BY d.v1 ORDER BY round(d.dot / (n1.nrm * n2.nrm), 6) DESC, d.v2 ASC) AS BIGINT) AS rk
         |  FROM dots d JOIN norms n1 ON d.v1 = n1.vec_id JOIN norms n2 ON d.v2 = n2.vec_id)
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "temporal_reach4" ->
      s"""WITH te0 AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey AS cust,
         |    l.l_partkey + 1000000000 AS part, epoch_us(o.o_orderdate) AS t
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         | te AS MATERIALIZED (
         |  SELECT cust AS src, part AS dst, t FROM te0
         |  UNION ALL SELECT part, cust, t FROM te0),
         | a0 AS MATERIALIZED (
         |  SELECT DISTINCT cust AS id, CAST(0 AS BIGINT) AS arrival
         |  FROM te0 WHERE cust % 50 = 0),
         | ${temporalRounds(4)}
         |SELECT CAST(id AS BIGINT) AS id, CAST(arrival AS BIGINT) AS arrival
         |FROM a4 ORDER BY id""".stripMargin,

    "event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        | p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS to_type
        |  FROM e)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "stickiness7" ->
      """WITH du AS MATERIALIZED (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        | wau AS (
        |  SELECT wday AS day, count(DISTINCT user_id) AS wau FROM (
        |    SELECT unnest(generate_series(day, day + 6)) AS wday, user_id
        |    FROM du) GROUP BY 1)
        |SELECT CAST(d.day AS BIGINT) AS day, CAST(d.dau AS BIGINT) AS dau,
        |  CAST(w.wau AS BIGINT) AS wau,
        |  CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
        |FROM dau d JOIN wau w ON d.day = w.day ORDER BY day""".stripMargin,

    // ANF/HyperBall FM sketches: md5-seeded register bits (trailing zeros
    // of the 60-bit prefix, capped at 30), 4 unrolled OR-propagation
    // rounds; lsb_sum = summed first-zero-bit index (the integer core of
    // the 2^(lsb_sum/8)/0.77351 ball estimate)
    "anf4" -> {
      val hs = (0 until 8).map(j =>
        s"('0x' || substr(md5('$j:' || CAST(id AS VARCHAR)),1,15))::BIGINT AS h$j")
        .mkString(", ")
      val seeds = (0 until 8).map(j =>
        s"(CAST(1 AS BIGINT) << least(length(bin(h$j & -h$j)) - 1, 30)) AS r$j")
        .mkString(",\n |    ")
      val regs = (0 until 8).map(j => s"r$j").mkString(", ")
      val lsb = (0 until 8)
        .map(j => s"(length(bin((~r$j) & (r$j + 1))) - 1)").mkString(" + ")
      s"""WITH $UND,
         | s0 AS MATERIALIZED (
         |  SELECT id, $seeds
         |  FROM (SELECT id, $hs FROM v)),
         | ${anfRounds(4, 8)}
         |SELECT CAST(id AS BIGINT) AS id, $regs,
         |  CAST($lsb AS BIGINT) AS lsb_sum
         |FROM s4 ORDER BY id""".stripMargin
    },

    // synchronous level-1 Louvain, 4 unrolled integer-gain move rounds
    // over the weighted symmetrized copurchase graph
    "louvain4" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | ew AS MATERIALIZED (
         |  SELECT src, dst, CAST(weight AS BIGINT) AS w FROM cp
         |  UNION ALL SELECT dst, src, CAST(weight AS BIGINT) FROM cp),
         | ktot AS MATERIALIZED (
         |  SELECT src AS id, CAST(sum(w) AS BIGINT) AS k FROM ew GROUP BY 1),
         | m2 AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM ew),
         | c0 AS MATERIALIZED (
         |  SELECT id, id AS comm FROM (SELECT DISTINCT src AS id FROM ew)),
         | ${louvainRounds(4)}
         |SELECT CAST(id AS BIGINT) AS id, CAST(comm AS BIGINT) AS comm
         |FROM c4 ORDER BY id""".stripMargin,

    // Heaps-law vocabulary growth: first-seen doc per 3-shingle type,
    // 5-doc bucket counts, running total over the tiny bucket table
    "vocab_growth" ->
      s"""WITH $TOKS,
         | ${shCte(3)},
         | fs AS MATERIALIZED (
         |  SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY 1),
         | pb AS (SELECT fd // 5 AS bucket,
         |   CAST(count(*) AS BIGINT) AS new_types FROM fs GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, new_types,
         |  CAST(sum(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types
         |FROM pb ORDER BY bucket""".stripMargin,

    // SALSA fixed-4 on the customer→part bipartite graph: per-vertex floor
    // division by out/in-degree before each edge join-sum — the stochastic
    // HITS, micro-unit integer trajectory
    "salsa4" -> {
      val iters = (1 to 4).map { i =>
        s"""a$i AS MATERIALIZED (
           |  SELECT e.dst AS id, CAST(sum(h.h // od.outdeg) AS BIGINT) AS a
           |  FROM e JOIN h${i - 1} h ON h.id = e.src
           |    JOIN od ON od.id = e.src GROUP BY 1),
           | h$i AS MATERIALIZED (
           |  SELECT e.src AS id, CAST(sum(a.a // ind.indeg) AS BIGINT) AS h
           |  FROM e JOIN a$i a ON a.id = e.dst
           |    JOIN ind ON ind.id = e.dst GROUP BY 1)""".stripMargin
      }.mkString(",\n ")
      s"""WITH e AS MATERIALIZED (
         |   SELECT o.o_custkey AS src, l.l_partkey + 1000000000 AS dst
         |   FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |   GROUP BY 1, 2),
         | od AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY 1),
         | ind AS MATERIALIZED (SELECT dst AS id, count(*) AS indeg FROM e GROUP BY 1),
         | h0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS h FROM od),
         | $iters
         |SELECT id, 'hub' AS kind, h AS score FROM h4
         |UNION ALL SELECT id, 'auth' AS kind, a AS score FROM a4
         |ORDER BY id, kind""".stripMargin
    },

    // eigenvector centrality: 4 unrolled power-iteration rounds, integer
    // max-normalization y*1e6 // max(y) per round
    "eigen4" -> {
      val iters = (1 to 4).map { i =>
        s"""y$i AS MATERIALIZED (
           |  SELECT e.dst AS id, CAST(sum(x.x) AS BIGINT) AS y
           |  FROM e JOIN x${i - 1} x ON x.id = e.src GROUP BY 1),
           | m$i AS (SELECT max(y) AS m FROM y$i),
           | x$i AS MATERIALIZED (
           |  SELECT id, CAST((y * 1000000) // m AS BIGINT) AS x
           |  FROM y$i, m$i)""".stripMargin
      }.mkString(",\n ")
      s"""WITH $UND,
         | x0 AS (SELECT id, CAST(1000000 AS BIGINT) AS x FROM d),
         | $iters
         |SELECT CAST(id AS BIGINT) AS id, x AS score FROM x4
         |ORDER BY id""".stripMargin
    },

    // rich-club density profile phi(k) in ppm: symmetrized edges tagged
    // with endpoint degrees, one conditional count per threshold
    "richclub" ->
      s"""WITH $UND,
         | ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
         | nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k
         |   FROM d, ks WHERE d.outdeg >= k GROUP BY 1),
         | tag AS (SELECT a.outdeg AS ds, b.outdeg AS dd
         |   FROM e JOIN d a ON a.id = e.src JOIN d b ON b.id = e.dst),
         | ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e2_k
         |   FROM tag, ks WHERE ds >= k AND dd >= k GROUP BY 1)
         |SELECT CAST(k AS BIGINT) AS k, n_k,
         |  CAST(coalesce(e2_k, 0) AS BIGINT) AS e2_k,
         |  CAST((coalesce(e2_k, 0) * 1000000) // (n_k * (n_k - 1)) AS BIGINT)
         |    AS phi_ppm
         |FROM nk LEFT JOIN ek USING (k) WHERE n_k > 1 ORDER BY k""".stripMargin,

    // Lee et al. duplicated 20-token windows: corpus count per window
    // hash, per-doc >=2x fraction in exact ppm
    "windowdup20" ->
      s"""WITH $TOKS,
         | w AS MATERIALIZED (
         |  SELECT doc_id, md5(array_to_string(ts[i:i+19], ' ')) AS wh
         |  FROM (SELECT doc_id, ts,
         |      unnest(generate_series(1, CAST(len(ts) AS BIGINT) - 19)) AS i
         |    FROM toks WHERE len(ts) >= 20)),
         | c AS MATERIALIZED (SELECT wh, count(*) AS c FROM w GROUP BY 1)
         |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_windows,
         |  CAST((sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS dup_ppm
         |FROM w JOIN c USING (wh) GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // winnowing fingerprints k=4/w=5: 60-bit md5-prefix gram hashes, the
    // sliding min per doc-partitioned rows-between window, distinct mins
    "winnow45" ->
      s"""WITH $TOKS,
         | g AS MATERIALIZED (
         |  SELECT doc_id, i, ('0x' || substr(
         |      md5(array_to_string(ts[i:i+3], ' ')), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, ts,
         |      unnest(generate_series(1, CAST(len(ts) AS BIGINT) - 3)) AS i
         |    FROM toks WHERE len(ts) >= 4)),
         | ng AS MATERIALIZED (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |  FROM g GROUP BY 1),
         | mw AS (SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id
         |    ORDER BY i ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mh
         |  FROM g),
         | fp AS (SELECT doc_id, CAST(count(DISTINCT mh) AS BIGINT) AS n_fp
         |  FROM mw JOIN ng USING (doc_id)
         |  WHERE i <= n_grams - 4 GROUP BY 1)
         |SELECT ng.doc_id, ng.n_grams, fp.n_fp,
         |  CAST((fp.n_fp * 1000000) // ng.n_grams AS BIGINT) AS density_ppm
         |FROM ng JOIN fp USING (doc_id) ORDER BY doc_id""".stripMargin,

    // time-respecting wedges a->m->b, t1 <= t2 <= t1 + 30 days, per mid
    // vertex of the timestamped cust<->part graph, mid degree capped 128
    "temporal_wedges" ->
      s"""WITH te0 AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey AS cust,
         |    l.l_partkey + 1000000000 AS part, epoch_us(o.o_orderdate) AS t
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         | te AS MATERIALIZED (
         |  SELECT cust AS src, part AS dst, t FROM te0
         |  UNION ALL SELECT part, cust, t FROM te0),
         | ok AS (SELECT src AS m FROM te GROUP BY 1
         |   HAVING count(*) <= 128)
         |SELECT CAST(e1.dst AS BIGINT) AS m, CAST(count(*) AS BIGINT)
         |    AS wedges
         |FROM te e1 JOIN ok ON ok.m = e1.dst
         |  JOIN te e2 ON e2.src = e1.dst
         |WHERE e1.src <> e2.dst AND e2.t >= e1.t
         |  AND e2.t <= e1.t + 2592000000000
         |GROUP BY 1 ORDER BY m""".stripMargin,

    // grid-layout HashMin CC reaches the same fixpoint — cc's closure
    // oracle verbatim
    "cc_grid" ->
      ccSql,

    // ANF neighbourhood-function curve: per-round sum of first-zero-bit
    // indices over the same unrolled FM rounds as anf4
    "anf_profile" -> {
      val lsb = (0 until 8)
        .map(j => s"(length(bin((~r$j) & (r$j + 1))) - 1)").mkString(" + ")
      val hs = (0 until 8).map(j =>
        s"('0x' || substr(md5('$j:' || CAST(id AS VARCHAR)),1,15))::BIGINT AS h$j")
        .mkString(", ")
      val seeds = (0 until 8).map(j =>
        s"(CAST(1 AS BIGINT) << least(length(bin(h$j & -h$j)) - 1, 30)) AS r$j")
        .mkString(",\n |    ")
      val rows = (0 to 4).map(t =>
        s"SELECT CAST($t AS BIGINT) AS round, CAST(sum($lsb) AS BIGINT) " +
          s"AS total_lsb FROM s$t").mkString("\n |UNION ALL ")
      s"""WITH $UND,
         | s0 AS MATERIALIZED (
         |  SELECT id, $seeds
         |  FROM (SELECT id, $hs FROM v)),
         | ${anfRounds(4, 8)}
         |$rows
         |ORDER BY round""".stripMargin
    },

    // robustness after removing the top-50 degree hubs ((deg desc, id)
    // tie-break): component census of the remaining closure
    "hub_attack" ->
      s"""WITH cp AS ($CP),
         | e0 AS (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
         | d AS (SELECT src AS id, count(*) AS deg FROM e0 GROUP BY 1),
         | hubs AS (SELECT id FROM d ORDER BY deg DESC, id LIMIT 50),
         | e AS (SELECT src, dst FROM e0
         |   WHERE src NOT IN (SELECT id FROM hubs)
         |     AND dst NOT IN (SELECT id FROM hubs)),
         | comp AS (SELECT id, lbl AS component FROM ${components("e")} WHERE done),
         | szs AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_components,
         |  CAST(max(sz) AS BIGINT) AS max_comp,
         |  CAST(sum(sz) AS BIGINT) AS n_left FROM szs""".stripMargin,

    // wedge-sampling triangle estimate: degree-oriented wedges (the
    // sampled SET depends on the orientation, so the oracle replicates
    // the (deg, id) orientation exactly), md5 % 16 = 0 sample
    "tc_sampled" ->
      s"""WITH cp AS ($CP),
         | u AS (SELECT src, dst FROM cp),
         | dg AS (SELECT id, count(*) AS deg FROM (
         |   SELECT src AS id FROM u UNION ALL SELECT dst FROM u) GROUP BY 1),
         | o AS MATERIALIZED (
         |  SELECT CASE WHEN d1.deg < d2.deg
         |      OR (d1.deg = d2.deg AND u.src < u.dst)
         |    THEN u.src ELSE u.dst END AS src,
         |   CASE WHEN d1.deg < d2.deg
         |      OR (d1.deg = d2.deg AND u.src < u.dst)
         |    THEN u.dst ELSE u.src END AS dst
         |  FROM u JOIN dg d1 ON d1.id = u.src JOIN dg d2 ON d2.id = u.dst),
         | w AS MATERIALIZED (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
         |  WHERE ('0x' || substr(md5(CAST(e1.src AS VARCHAR) || ':' ||
         |    CAST(e1.dst AS VARCHAR) || ':' || CAST(e2.dst AS VARCHAR)),
         |    1, 15))::BIGINT % 16 = 0)
         |SELECT CAST(count(*) AS BIGINT) AS n_sampled,
         |  CAST(coalesce(sum(CASE WHEN cl.src IS NOT NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_closed,
         |  CAST(coalesce(sum(CASE WHEN cl.src IS NOT NULL THEN 1 END), 0)
         |    * 16 AS BIGINT) AS est_triangles
         |FROM w LEFT JOIN o cl ON cl.src = w.a AND cl.dst = w.c""".stripMargin,

    // second-order (trigram) event-type transitions: two leads over the
    // same user-partitioned order
    "transitions2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        | p AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS t2,
        |    lead(event_type, 2) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS t3
        |  FROM e)
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY t1, t2, t3""".stripMargin,

    // Louvain phase 2: contract the c4 labels, diagonal = 2x intra mass,
    // off-diagonal = undirected inter-community weight once
    "louvain_coarsen" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | ew AS MATERIALIZED (
         |  SELECT src, dst, CAST(weight AS BIGINT) AS w FROM cp
         |  UNION ALL SELECT dst, src, CAST(weight AS BIGINT) FROM cp),
         | ktot AS MATERIALIZED (
         |  SELECT src AS id, CAST(sum(w) AS BIGINT) AS k FROM ew GROUP BY 1),
         | m2 AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM ew),
         | c0 AS MATERIALIZED (
         |  SELECT id, id AS comm FROM (SELECT DISTINCT src AS id FROM ew)),
         | ${louvainRounds(4)}
         |SELECT CAST(c1.comm AS BIGINT) AS comm_src,
         |  CAST(c2.comm AS BIGINT) AS comm_dst,
         |  CAST(sum(e.w) AS BIGINT) AS weight
         |FROM ew e JOIN c4 c1 ON c1.id = e.src JOIN c4 c2 ON c2.id = e.dst
         |WHERE c1.comm <= c2.comm
         |GROUP BY 1, 2 ORDER BY comm_src, comm_dst""".stripMargin,

    // keyed-state streaming transitions reproduce the batch transition
    // table exactly (ordered time-chunk replay) — event_transitions'
    // oracle verbatim
    "stream_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        | p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS to_type
        |  FROM e)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    // k-means inertia curve: per-round sum(dist2) over the same unrolled
    // exact-integer Lloyd chain as kmeans8 (one more round)
    "kmeans_inertia" -> {
      val rows = (1 to 3).map(i =>
        s"SELECT CAST($i AS BIGINT) AS round, CAST(sum(dist2) AS BIGINT) " +
          s"AS inertia FROM a$i").mkString("\n |UNION ALL ")
      s"""WITH ${kmeansCtes("", 8, 3, 10000L, 10000L, 1, 0)}
         |$rows
         |ORDER BY round""".stripMargin
    },

    // Zipf rank-frequency: top-50 corpus tokens by (cnt desc, tok)
    "zipf50" ->
      s"""WITH $TOKS,
         | tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |   FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY 1),
         | top AS (SELECT tok, cnt FROM tf ORDER BY cnt DESC, tok LIMIT 50)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
         |    AS rank, tok, cnt
         |FROM top ORDER BY rank""".stripMargin,

    // densest-subgraph greedy peel profile: ε=1 peel rounds until the
    // subgraph is empty, one row per non-empty round; the best-round flag
    // is an exact cross-multiplied density compare
    "densest" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS ($cpfSym),
         | prof AS (SELECT round, n, w2 AS m2
         |   FROM (${densestProfile("SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e")}))
         |SELECT CAST(p.round AS BIGINT) AS round, p.n AS n_vertices,
         |  p.m2 AS m2_edges,
         |  CAST(CASE WHEN (SELECT count(*) FROM prof q
         |    WHERE q.m2 * p.n > p.m2 * q.n) = 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_best
         |FROM prof p ORDER BY round""".stripMargin,

    // signed-triangle balance census: deterministic md5-parity edge signs
    // on the canonical least:greatest endpoint string (same value as the
    // engine's GraphOps.md5Prio % 2); enumeration uses the id orientation
    // (a<b<c) — the census is orientation-invariant
    "balance_tri" ->
      s"""WITH cp AS ($CP), e AS (SELECT src AS a, dst AS b FROM cp),
         | tri AS (
         |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         | par AS (
         |  SELECT (${sgnSql("a", "b")} + ${sgnSql("b", "c")}
         |        + ${sgnSql("a", "c")}) % 2 AS p
         |  FROM tri)
         |SELECT
         |  CAST(coalesce(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS balanced,
         |  CAST(coalesce(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS unbalanced
         |FROM par""".stripMargin,

    // Markov stationary distribution over event types: 4 unrolled power
    // steps in integer micro-units, per-term floor division (// ≡ Spark
    // div on non-negatives); dangling types leak mass, absent types get 0
    "markov4" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
         |  FROM events),
         | pr AS (
         |  SELECT event_type AS from_type,
         |    lead(event_type) OVER (
         |      PARTITION BY user_id ORDER BY us, event_id) AS to_type
         |  FROM ev),
         | c AS MATERIALIZED (
         |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
         | crs AS MATERIALIZED (
         |  SELECT from_type, sum(n) AS rs FROM c GROUP BY 1),
         | t AS MATERIALIZED (SELECT DISTINCT event_type FROM events),
         | mp0 AS (SELECT event_type, CAST(1000000 AS BIGINT) AS w FROM t),
         | ${markovSteps(4)}
         |SELECT event_type, w AS weight FROM mp4
         |ORDER BY event_type""".stripMargin,

    // weighted neighbor Jaccard (Ruzicka): Σmin over the shared-neighbor
    // intersection, Σmax over the union via tot(a)+tot(b)−Σmin; integer
    // micro-units, wedge-join candidates
    "g_wjaccard" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst, CAST(weight AS BIGINT) AS w
         |   FROM cp WHERE weight >= 2),
         | und AS MATERIALIZED (
         |  SELECT src, dst, w FROM cpf
         |  UNION ALL SELECT dst, src, w FROM cpf),
         | tot AS MATERIALIZED (
         |  SELECT src AS id, sum(w) AS tot FROM und GROUP BY 1),
         | inter AS (
         |  SELECT a.src AS v1, b.src AS v2, sum(least(a.w, b.w)) AS num
         |  FROM und a JOIN und b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT i.v1, i.v2,
         |  CAST((i.num * 1000000) // (t1.tot + t2.tot - i.num) AS BIGINT)
         |    AS wjac_micro
         |FROM inter i JOIN tot t1 ON t1.id = i.v1
         |JOIN tot t2 ON t2.id = i.v2
         |WHERE (i.num * 1000000) // (t1.tot + t2.tot - i.num) >= 300000
         |ORDER BY v1, v2""".stripMargin,

    // shortest-path sigma counts: 4 unrolled level-synchronous BFS rounds
    // carrying path counts from the min-id source
    "sigma4" ->
      s"""WITH $UND,
         | ${sigmaRounds(4)}
         |SELECT id, CAST(dist AS BIGINT) AS dist,
         |  CAST(sigma AS BIGINT) AS sigma
         |FROM sp4 WHERE dist IS NOT NULL ORDER BY id""".stripMargin,

    // CUBE rollup over (event_type, epoch-day): all four grouping sets,
    // null groups coalesced to sentinels in BOTH engines
    "cube_counts" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day
        |  FROM events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        |  CAST(coalesce(day, -1) AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM ev GROUP BY CUBE(event_type, day)
        |ORDER BY event_type, day""".stripMargin,

    // multi-seed personalized PageRank: 4 unrolled rounds keyed (seed, id),
    // sparse state — rows exist only where mass has reached
    "ppr_multi4" ->
      s"""WITH $UND,
         | ${pprMultiRounds(4, c => s"$c % 500 = 0")}
         |SELECT seed, id, round(pr, 6) AS pr FROM q4
         |ORDER BY seed, id""".stripMargin,

    // connected components of the 3-truss subgraph: the truss peeled until
    // no edge drops, then the components of the survivors
    "truss_comm" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | te AS (SELECT src, dst FROM ${trussRounds(3)} WHERE done),
         | tes AS (SELECT src, dst FROM te UNION SELECT dst, src FROM te)
         |SELECT id, lbl AS component FROM ${components("tes")}
         |WHERE done ORDER BY id""".stripMargin,

    // append-mode watermark late-drop simulation: batch k = event_id % 4,
    // replayed in batch order. Three Spark behaviors pinned empirically by
    // Wave26Spec (each with a discriminating fixture):
    //  1. the LATE FILTER's watermark lags one batch — batch k is filtered
    //     with stats through batch k−2 (AvailableNow pre-plans batches, so
    //     each update takes effect one batch late);
    //  2. a row is dropped iff its window END ≤ that wm (end == wm drops);
    //  3. a window is EMITTED iff its end ≤ the FINAL wm, which does see
    //     every batch's stats (the trailing no-data batch applies the last
    //     update). Stats are tracked in ms (µs // 1000).
    "stream_late" ->
      """WITH ev AS (
        |  SELECT event_id % 4 AS b, event_type, epoch_us(ts) AS us
        |  FROM events),
        | bmax AS MATERIALIZED (SELECT b, max(us) AS mx FROM ev GROUP BY 1),
        | wmk AS MATERIALIZED (
        |  SELECT d.b, greatest(0,
        |    coalesce((SELECT max(p.mx) FROM bmax p WHERE p.b <= d.b - 2), 0)
        |      // 1000 - 3600000) * 1000 AS wm
        |  FROM (SELECT DISTINCT b FROM ev) d),
        | fwm AS (SELECT greatest(0,
        |    (SELECT max(mx) FROM bmax) // 1000 - 3600000) * 1000 AS wm),
        | kept AS (
        |  SELECT e.us // 3600000000 AS hour_bucket, e.event_type,
        |    ((e.us // 3600000000) + 1) * 3600000000 AS wend
        |  FROM ev e JOIN wmk w ON w.b = e.b
        |  WHERE ((e.us // 3600000000) + 1) * 3600000000 > w.wm)
        |SELECT hour_bucket, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM kept, fwm
        |WHERE kept.wend <= fwm.wm
        |GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin,

    // bond-percolation profile: md5-thresholded edge survival at 25/50/75%
    // + the components per threshold
    "percolation3" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | ${Seq(25, 50, 75).map(percRound).mkString(",\n ")}
         |SELECT * FROM prow25 UNION ALL SELECT * FROM prow50
         |UNION ALL SELECT * FROM prow75 ORDER BY p_pct""".stripMargin,

    // language confusion matrix: the lang_id scoring joined back to the
    // corpus lang metadata
    "lang_confusion" ->
      s"""WITH $TOKS,
         | sc AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(ts, x -> list_contains(['der','die','das','und','ist','nicht','ein'], x))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(ts, x -> list_contains(['the','a','of','and','in','to','is'], x))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(ts, x -> list_contains(['el','los','las','y','es','una','que'], x))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(ts, x -> list_contains(['le','la','et','les','des','est','un'], x))) AS BIGINT) AS s_fr
         |  FROM toks),
         | pl AS (
         |  SELECT doc_id,
         |    CASE WHEN s_de >= greatest(s_en, s_es, s_fr) AND s_de > 0 THEN 'de'
         |         WHEN s_en >= greatest(s_es, s_fr) AND s_en > 0 THEN 'en'
         |         WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |         WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS pred_lang
         |  FROM sc)
         |SELECT d.lang, pl.pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM pl JOIN documents d ON d.doc_id = pl.doc_id
         |GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,

    // top-3 PageRank vertices per LP community: the pr5 and lp5 unrolled
    // trajectories joined, ranked per community on the ROUNDED rank
    "community_top3" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         | d AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY 1),
         | ${prRounds(5)},
         | ${lpRounds(5)},
         | j AS (SELECT l.id, l.label, round(r.pr, 6) AS pr
         |   FROM l5 l JOIN r5 r ON r.id = l.id),
         | t AS (SELECT label, id, pr,
         |   row_number() OVER (PARTITION BY label ORDER BY pr DESC, id) AS rk
         |   FROM j)
         |SELECT label, id, pr, CAST(rk AS BIGINT) AS rk FROM t
         |WHERE rk <= 3 ORDER BY label, rk""".stripMargin,

    // reciprocal best match: top-1 cosine within the vec_id % 20 stratum,
    // pairs kept only when mutual; rank on the ROUNDED cosine (Similarity
    // topK discipline)
    "mutual_nn" ->
      s"""WITH sub AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
         | pr AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    a.embedding AS ea, b.embedding AS eb
         |  FROM sub a JOIN sub b ON a.vec_id <> b.vec_id),
         |$CosTail,
         | t1 AS (
         |  SELECT v1 AS query_id, v2 AS neighbor_id, cos FROM (
         |    SELECT d.v1, d.v2,
         |      round(d.dot / (n1.nrm * n2.nrm), 6) AS cos,
         |      row_number() OVER (PARTITION BY d.v1
         |        ORDER BY round(d.dot / (n1.nrm * n2.nrm), 6) DESC, d.v2 ASC)
         |        AS rk
         |    FROM dots d JOIN norms n1 ON d.v1 = n1.vec_id
         |    JOIN norms n2 ON d.v2 = n2.vec_id)
         |  WHERE rk = 1)
         |SELECT a.query_id AS v1, a.neighbor_id AS v2, a.cos
         |FROM t1 a JOIN t1 b
         |  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
         |WHERE a.query_id < a.neighbor_id
         |ORDER BY v1""".stripMargin,

    // robust DAU stats: exact discrete median + median absolute deviation
    // (the Quantiles.discreteBy target convention: rank ceil(n·p/100))
    "dau_mad" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        | dau AS MATERIALIZED (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
        | n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dau),
        | c1 AS (SELECT dau AS v, row_number() OVER (ORDER BY dau) AS rn
        |   FROM dau),
        | med AS (SELECT min(v) AS median_dau FROM c1, n1
        |   WHERE rn >= (n1.n * 50 + 99) // 100),
        | dev AS (SELECT abs(dau.dau - med.median_dau) AS d FROM dau, med),
        | c2 AS (SELECT d AS v, row_number() OVER (ORDER BY d) AS rn
        |   FROM dev),
        | mad AS (SELECT min(v) AS mad_dau FROM c2, n1
        |   WHERE rn >= (n1.n * 50 + 99) // 100)
        |SELECT med.median_dau, mad.mad_dau FROM med, mad""".stripMargin,

    // weighted triangle strength: min edge weight per triangle, summed;
    // orientation-invariant, so the id-ordered enumeration twins the
    // engine's degree-ordered one
    "tri_strength" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst, CAST(weight AS BIGINT) AS w
         |   FROM cp WHERE weight >= 2),
         | tri AS (
         |  SELECT least(e1.w, e2.w, e3.w) AS mw
         |  FROM cpf e1 JOIN cpf e2 ON e2.src = e1.dst
         |  JOIN cpf e3 ON e3.src = e1.src AND e3.dst = e2.dst)
         |SELECT CAST(count(*) AS BIGINT) AS n_triangles,
         |  CAST(coalesce(sum(mw), 0) AS BIGINT) AS strength_sum
         |FROM tri""".stripMargin,

    // star-schema revenue rollup through the dimension chain; revenue as
    // per-row-rounded exact cents
    "rev_region" ->
      """SELECT r.r_name,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)
        |    * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1, 2 ORDER BY r_name, yr""".stripMargin,

    // user-day basket lift between event types, exact micro-units
    "basket_lift" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day,
        |    event_type
        |  FROM events),
        | nb AS (SELECT CAST(count(*) AS BIGINT) AS nb
        |   FROM (SELECT DISTINCT user_id, day FROM b)),
        | nt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nt
        |   FROM b GROUP BY 1),
        | p AS (
        |  SELECT a.event_type AS t1, c.event_type AS t2,
        |    CAST(count(*) AS BIGINT) AS n_pair
        |  FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
        |    AND a.event_type < c.event_type
        |  GROUP BY 1, 2)
        |SELECT p.t1, p.t2, p.n_pair,
        |  CAST((p.n_pair * nb.nb * 1000000) // (n1.nt * n2.nt) AS BIGINT)
        |    AS lift_micro
        |FROM p CROSS JOIN nb
        |JOIN nt n1 ON n1.event_type = p.t1
        |JOIN nt n2 ON n2.event_type = p.t2
        |ORDER BY t1, t2""".stripMargin,

    // ego-net density of the top-8 degree hubs: spokes + edges among the
    // neighborhood, density vs the (deg+1)-clique in micro-units
    "ego_density" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | d AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |   FROM e GROUP BY 1),
         | hubs AS (SELECT id AS hub, deg AS hdeg FROM d
         |   ORDER BY deg DESC, id LIMIT 8),
         | nbrs AS (SELECT h.hub, e.dst AS nbr
         |   FROM e JOIN hubs h ON e.src = h.hub),
         | among AS (
         |  SELECT n1.hub, CAST(count(*) AS BIGINT) AS among
         |  FROM cpf c JOIN nbrs n1 ON n1.nbr = c.src
         |  JOIN nbrs n2 ON n2.hub = n1.hub AND n2.nbr = c.dst
         |  GROUP BY 1)
         |SELECT h.hub AS hub, h.hdeg AS deg,
         |  CAST(h.hdeg + coalesce(a.among, 0) AS BIGINT) AS ego_edges,
         |  CAST((2 * (h.hdeg + coalesce(a.among, 0)) * 1000000)
         |    // ((h.hdeg + 1) * h.hdeg) AS BIGINT) AS density_micro
         |FROM hubs h LEFT JOIN among a ON a.hub = h.hub
         |ORDER BY deg DESC, hub""".stripMargin,

    // 1-WL color refinement: 3 unrolled rounds, sorted-neighbor-label md5
    // from a degree seed
    "wl3" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | e AS MATERIALIZED (SELECT src, dst FROM cpf UNION SELECT dst, src FROM cpf),
         | d AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         | w0 AS MATERIALIZED (
         |  SELECT id, md5(CAST(deg AS VARCHAR)) AS wl FROM d),
         | ${wlRounds(3)}
         |SELECT id, wl FROM w3 ORDER BY id""".stripMargin,

    // Apriori frequent triples at >=5% basket support: candidates only
    // from frequent pairs, then one 3-way membership count
    "basket_triples" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day,
        |    event_type
        |  FROM events),
        | nbx AS (SELECT CAST(count(*) AS BIGINT) AS nb
        |   FROM (SELECT DISTINCT user_id, day FROM b)),
        | ms AS (SELECT (nb * 5 + 99) // 100 AS m FROM nbx),
        | p AS (SELECT a.event_type AS t1, c.event_type AS t2,
        |    CAST(count(*) AS BIGINT) AS np
        |  FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
        |    AND a.event_type < c.event_type
        |  GROUP BY 1, 2),
        | fp AS (SELECT t1, t2 FROM p, ms WHERE np >= m),
        | cand AS (
        |  SELECT x.t1, x.t2, y.t2 AS t3
        |  FROM fp x JOIN fp y ON x.t1 = y.t1 AND x.t2 < y.t2
        |  WHERE EXISTS (SELECT 1 FROM fp z
        |    WHERE z.t1 = x.t2 AND z.t2 = y.t2)),
        | tri AS (
        |  SELECT c.t1, c.t2, c.t3, CAST(count(*) AS BIGINT) AS n
        |  FROM cand c JOIN b b1 ON b1.event_type = c.t1
        |  JOIN b b2 ON b2.user_id = b1.user_id AND b2.day = b1.day
        |    AND b2.event_type = c.t2
        |  JOIN b b3 ON b3.user_id = b1.user_id AND b3.day = b1.day
        |    AND b3.event_type = c.t3
        |  GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, n FROM tri, ms WHERE n >= m
        |ORDER BY t1, t2, t3""".stripMargin,

    // inter-arrival gap quantiles per type: one user-keyed window, then
    // the discreteBy histogram-rank recipe in whole seconds
    "gap_quantiles" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        | g0 AS (SELECT event_type, us,
        |   lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |     AS nxt
        |  FROM e),
        | c AS (SELECT event_type, (nxt - us) // 1000000 AS v
        |   FROM g0 WHERE nxt IS NOT NULL),
        | hist AS (SELECT event_type AS g, v, CAST(count(*) AS BIGINT)
        |     AS cnt
        |   FROM c GROUP BY 1, 2),
        | cum AS (SELECT g, v,
        |   sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum FROM hist),
        | n AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM hist
        |   GROUP BY 1),
        | p AS (SELECT n.g, CAST(t.pct AS BIGINT) AS pct,
        |   (n.n * t.pct + 99) // 100 AS target
        |   FROM n, unnest([50, 90, 99]) AS t(pct))
        |SELECT p.g AS event_type, p.pct, CAST(min(c2.v) AS BIGINT)
        |    AS value
        |FROM p JOIN cum c2 ON p.g = c2.g AND c2.cum >= p.target
        |GROUP BY 1, 2 ORDER BY event_type, pct""".stripMargin,

    // distinctive terms per language: cross-multiplied corpus lift in
    // micro-units, top-3 per lang at tf >= 5
    "lang_terms3" ->
      s"""WITH $TOKS,
         | tt AS MATERIALIZED (
         |  SELECT d.lang, t.tok FROM (
         |    SELECT doc_id, unnest(ts) AS tok FROM toks) t
         |  JOIN documents d ON d.doc_id = t.doc_id),
         | tfl AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS tfl
         |   FROM tt GROUP BY 1, 2),
         | tfa AS (SELECT tok, CAST(count(*) AS BIGINT) AS tfa
         |   FROM tt GROUP BY 1),
         | nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
         |   FROM tt GROUP BY 1),
         | na AS (SELECT CAST(count(*) AS BIGINT) AS na FROM tt),
         | lift AS (
         |  SELECT f.lang, f.tok, f.tfl,
         |    (f.tfl * na.na * 1000000) // (a.tfa * nl.nl) AS lift_micro
         |  FROM tfl f JOIN tfa a ON a.tok = f.tok
         |  JOIN nl ON nl.lang = f.lang CROSS JOIN na
         |  WHERE f.tfl >= 5),
         | rk AS (SELECT lang, tok, tfl, lift_micro,
         |   row_number() OVER (PARTITION BY lang
         |     ORDER BY lift_micro DESC, tok) AS rk
         |   FROM lift)
         |SELECT lang, tok, tfl, CAST(lift_micro AS BIGINT) AS lift_micro,
         |  CAST(rk AS BIGINT) AS rk
         |FROM rk WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,

    // trailing-7-day revenue per type: day-keyed RANGE window frame over
    // the daily rollup
    "rev_rolling7" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, cents,
        |  CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cents7
        |FROM daily ORDER BY event_type, day""".stripMargin,

    // robust outlier days: |dau - median| > 3*MAD via the dau_mad ranks
    "dau_outliers" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        | dau AS MATERIALIZED (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
        | n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dau),
        | c1 AS (SELECT dau AS v, row_number() OVER (ORDER BY dau) AS rn
        |   FROM dau),
        | med AS (SELECT min(v) AS m FROM c1, n1
        |   WHERE rn >= (n1.n * 50 + 99) // 100),
        | dev AS (SELECT abs(dau.dau - med.m) AS d FROM dau, med),
        | c2 AS (SELECT d AS v, row_number() OVER (ORDER BY d) AS rn
        |   FROM dev),
        | mad AS (SELECT min(v) AS m FROM c2, n1
        |   WHERE rn >= (n1.n * 50 + 99) // 100)
        |SELECT dau.day, dau.dau FROM dau, med, mad
        |WHERE abs(dau.dau - med.m) > 3 * mad.m
        |ORDER BY day""".stripMargin,

    // last-touch attribution: immediate predecessor within 7 days under
    // the (us, event_id) total order, else 'none'
    "attribution_last" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        | p AS (
        |  SELECT event_type, us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev_t,
        |    lag(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev_us
        |  FROM e)
        |SELECT CASE WHEN prev_t IS NOT NULL
        |    AND us - prev_us <= 7 * 86400000000 THEN prev_t
        |    ELSE 'none' END AS attr_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY attr_type""".stripMargin,

    // OOV rate per doc vs the deterministic top-10 vocabulary cut
    "oov_rate" ->
      s"""WITH $TOKS,
         | tt AS MATERIALIZED (
         |  SELECT doc_id, unnest(ts) AS tok FROM toks),
         | vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, count(*) AS cnt FROM tt GROUP BY 1
         |    ORDER BY cnt DESC, tok LIMIT 10)),
         | f AS (
         |  SELECT t.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_toks,
         |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS oov
         |  FROM tt t LEFT JOIN vocab v ON v.tok = t.tok
         |  GROUP BY 1)
         |SELECT doc_id, n_toks,
         |  CAST((oov * 1000000) // n_toks AS BIGINT) AS oov_micro
         |FROM f ORDER BY doc_id""".stripMargin,

    // stream-stream windowed self-join ≡ batch interval self-join (the
    // watermark exceeds the replay span, so nothing drops)
    "stream_sj" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us > a.us AND b.us <= a.us + 3600000000
        |GROUP BY 1, 2 ORDER BY t1, t2""".stripMargin,

    // temporal 3-chain motif census: both gaps in (0, 1h]
    "chains3" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  c.event_type AS t3, CAST(count(*) AS BIGINT) AS n
        |FROM e a
        |JOIN e b ON b.user_id = a.user_id
        |  AND b.us > a.us AND b.us <= a.us + 3600000000
        |JOIN e c ON c.user_id = b.user_id
        |  AND c.us > b.us AND c.us <= b.us + 3600000000
        |GROUP BY 1, 2, 3 ORDER BY t1, t2, t3""".stripMargin,

    // weighted densest peel on weighted degree over the weight>=2
    // integral-weight co-purchase graph
    "densest_w" ->
      s"""WITH cp AS ($CP),
         | cpw AS (SELECT src, dst, CAST(weight AS BIGINT) AS w
         |   FROM cp WHERE weight >= 2),
         | ew AS (SELECT src, dst, w FROM cpw
         |   UNION ALL SELECT dst, src, w FROM cpw),
         | wprof AS (${densestProfile("SELECT src, dst, w FROM ew")})
         |SELECT CAST(p.round AS BIGINT) AS round, p.n AS n_vertices,
         |  p.w2 AS w2_weight,
         |  CAST(CASE WHEN (SELECT count(*) FROM wprof q
         |    WHERE q.w2 * p.n > p.w2 * q.n) = 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_best
         |FROM wprof p ORDER BY round""".stripMargin,

    // clustering-by-degree curve: floored mean of the exact per-vertex
    // lcc micro-units per log2 degree bucket
    "lcc_by_degree" ->
      s"""WITH cp AS ($CP), e AS (SELECT src AS a, dst AS b FROM cp),
         | d AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
         |   FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         | tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         | t AS (SELECT id, CAST(count(*) AS BIGINT) AS tri_cnt
         |   FROM (SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY 1),
         | l AS (
         |  SELECT d.id, d.deg,
         |    CASE WHEN d.deg >= 2
         |      THEN (2000000 * coalesce(t.tri_cnt, 0)) // (d.deg * (d.deg - 1))
         |      ELSE 0 END AS lcc_micro
         |  FROM d LEFT JOIN t ON d.id = t.id)
         |SELECT CAST(length(bin(deg)) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_vertices,
         |  CAST(sum(lcc_micro) // count(*) AS BIGINT) AS avg_lcc_micro
         |FROM l GROUP BY 1 ORDER BY bucket""".stripMargin,

    // per-part butterfly participation: C(cn,2) credited to both members
    // of every co-neighbor pair
    "bfly_pervertex" ->
      """WITH e AS MATERIALIZED (
        |   SELECT o.o_custkey AS src, l.l_partkey + 1000000000 AS dst
        |   FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |   GROUP BY 1, 2),
        | d AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |   FROM e GROUP BY 1),
        | c AS MATERIALIZED (SELECT e.src, e.dst FROM e
        |   JOIN d ON d.src = e.src WHERE d.deg <= 10000),
        | pairs AS (SELECT a.dst AS v, b.dst AS w,
        |    CAST(count(*) AS BIGINT) AS cn
        |   FROM c a JOIN c b ON a.src = b.src AND a.dst < b.dst
        |   GROUP BY 1, 2 HAVING count(*) >= 2),
        | cr AS (SELECT unnest([v, w]) AS id, (cn*(cn-1))//2 AS b
        |   FROM pairs)
        |SELECT id, CAST(sum(b) AS BIGINT) AS bflys
        |FROM cr GROUP BY 1 ORDER BY id""".stripMargin,

    // per-type burstiness (Fano factor) as an exact rational
    "burstiness" ->
      """WITH dc AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(c) AS BIGINT) AS total,
        |  CAST(count(*) * sum(c*c) - sum(c) * sum(c) AS BIGINT)
        |    AS fano_num,
        |  CAST(count(*) * sum(c) AS BIGINT) AS fano_den
        |FROM dc GROUP BY 1 ORDER BY event_type""".stripMargin,

    // Pearson moments of (n_chars, token_count) as exact integers
    "doc_corr" ->
      s"""WITH $TOKS,
         | m AS (
         |  SELECT CAST(d.n_chars AS BIGINT) AS x,
         |    CAST(len(t.ts) AS BIGINT) AS y
         |  FROM documents d JOIN toks t ON t.doc_id = d.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS BIGINT)
         |    AS corr_num,
         |  CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS BIGINT) AS den_x,
         |  CAST(count(*) * sum(y*y) - sum(y) * sum(y) AS BIGINT) AS den_y
         |FROM m""".stripMargin,

    // supplier co-supply graph: distinct shared parts, src<dst
    "g_cosupply" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
        |  FROM lineitem)
        |SELECT a.supp AS src, b.supp AS dst,
        |  CAST(count(*) AS BIGINT) AS weight
        |FROM sp a JOIN sp b ON a.part = b.part AND a.supp < b.supp
        |GROUP BY 1, 2 ORDER BY src, dst""".stripMargin,

    // revenue by supplier nation, per-row-rounded exact cents
    "rev_supp_nation" ->
      """SELECT n.n_name,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)
        |    * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY n_name""".stripMargin,

    // deterministic top-2-per-vertex md5 sparsifier over the symmetrized
    // graph (md5ModSql's full 60-bit value as the order key)
    "edge_sample2" ->
      s"""WITH $UND,
         | h AS (
         |  SELECT src, dst,
         |    ('0x' || substr(md5(CAST(src AS VARCHAR) || ':' ||
         |      CAST(dst AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM e),
         | r AS (
         |  SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY h, dst) AS rk
         |  FROM h)
         |SELECT src, dst, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 2 ORDER BY src, rk""".stripMargin,

    // audience overlap: pairwise user-set Jaccard between event types
    "audience_overlap" ->
      """WITH a AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        | sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu
        |   FROM a GROUP BY 1),
        | p AS (
        |  SELECT x.event_type AS t1, y.event_type AS t2,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM a x JOIN a y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT p.t1, p.t2, p.inter,
        |  CAST((p.inter * 1000000) // (s1.nu + s2.nu - p.inter) AS BIGINT)
        |    AS jac_micro
        |FROM p JOIN sz s1 ON s1.event_type = p.t1
        |JOIN sz s2 ON s2.event_type = p.t2
        |ORDER BY t1, t2""".stripMargin,

    // Benford first-digit profile of positive cents
    "benford" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT)
        |    AS cents
        |  FROM events)
        |SELECT event_type, substr(CAST(cents AS VARCHAR), 1, 1) AS digit,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM c WHERE cents > 0
        |GROUP BY 1, 2 ORDER BY event_type, digit""".stripMargin,

    // RFM tercile segmentation with exact discrete-rank thresholds
    "rfm_segments" -> {
      def thr(c: String, pct: Int): String =
        s"(SELECT min(v) FROM (SELECT $c AS v, " +
          s"row_number() OVER (ORDER BY $c) AS rn FROM rfm) t, n1 " +
          s"WHERE t.rn >= (n1.n * $pct + 99) // 100)"
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |    CAST(round(value * 100, 0) AS BIGINT) AS cents
         |  FROM events),
         | mx AS (SELECT max(day) AS md FROM ev),
         | rfm AS MATERIALIZED (
         |  SELECT user_id, (SELECT md FROM mx) - max(day) AS r,
         |    CAST(count(*) AS BIGINT) AS f,
         |    CAST(sum(cents) AS BIGINT) AS m
         |  FROM ev GROUP BY 1),
         | n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rfm),
         | th AS (SELECT ${thr("r", 33)} AS r33, ${thr("r", 66)} AS r66,
         |   ${thr("f", 33)} AS f33, ${thr("f", 66)} AS f66,
         |   ${thr("m", 33)} AS m33, ${thr("m", 66)} AS m66)
         |SELECT
         |  CAST(CASE WHEN r <= r33 THEN 1 WHEN r <= r66 THEN 2
         |    ELSE 3 END AS BIGINT) AS rb,
         |  CAST(CASE WHEN f <= f33 THEN 1 WHEN f <= f66 THEN 2
         |    ELSE 3 END AS BIGINT) AS fb,
         |  CAST(CASE WHEN m <= m33 THEN 1 WHEN m <= m66 THEN 2
         |    ELSE 3 END AS BIGINT) AS mb,
         |  CAST(count(*) AS BIGINT) AS n_users
         |FROM rfm, th GROUP BY 1, 2, 3 ORDER BY rb, fb, mb""".stripMargin
    },

    // link-prediction AUC counts: RA scores of true edges vs the
    // deterministic negative sample (neg_sample2's derivation verbatim,
    // canonicalized + deduped), concordance via score histograms
    "linkpred_auc" ->
      s"""WITH cp0 AS MATERIALIZED ($CP),
         | cp AS MATERIALIZED (SELECT src, dst FROM cp0 WHERE weight >= 2),
         | e AS MATERIALIZED (
         |  SELECT src, dst FROM cp UNION SELECT dst, src FROM cp),
         | v AS (SELECT DISTINCT src AS id FROM e),
         | n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         | r AS (
         |  SELECT id, CAST(row_number()
         |    OVER (ORDER BY CAST(id AS VARCHAR)) AS BIGINT) - 1 AS rk
         |  FROM v),
         | cand AS (
         |  SELECT v.id, t.t,
         |    ('0x' || substr(md5(CAST(v.id AS VARCHAR) || ':' ||
         |      CAST(t.t AS VARCHAR)), 1, 15))::BIGINT % (SELECT n FROM n)
         |      AS ci
         |  FROM v, unnest(generate_series(0, 7)) AS t(t)),
         | cu AS (
         |  SELECT c.id, c.t, r.id AS neg
         |  FROM cand c JOIN r ON c.ci = r.rk),
         | ok AS (
         |  SELECT cu.id, cu.t, cu.neg FROM cu
         |  WHERE cu.neg <> cu.id AND NOT EXISTS (
         |    SELECT 1 FROM e WHERE e.src = cu.id AND e.dst = cu.neg)),
         | kk AS (
         |  SELECT id, neg, t,
         |    row_number() OVER (PARTITION BY id ORDER BY t) AS rn
         |  FROM ok),
         | negp AS MATERIALIZED (
         |  SELECT DISTINCT least(id, neg) AS u, greatest(id, neg) AS v
         |  FROM kk WHERE rn <= 2),
         | posp AS MATERIALIZED (SELECT src AS u, dst AS v FROM cp),
         | dg AS MATERIALIZED (
         |  SELECT src AS w, CAST(count(*) AS BIGINT) AS degw
         |  FROM e GROUP BY 1),
         | pra AS (
         |  SELECT p.u, p.v, CAST(coalesce(s.ra, 0) AS BIGINT) AS ra
         |  FROM posp p LEFT JOIN (
         |    SELECT a.src AS u, b.src AS v, sum(1000000 // d.degw) AS ra
         |    FROM posp q JOIN e a ON a.src = q.u JOIN e b
         |      ON b.src = q.v AND b.dst = a.dst
         |    JOIN dg d ON d.w = a.dst GROUP BY 1, 2) s
         |    ON s.u = p.u AND s.v = p.v),
         | nra AS (
         |  SELECT p.u, p.v, CAST(coalesce(s.ra, 0) AS BIGINT) AS ra
         |  FROM negp p LEFT JOIN (
         |    SELECT a.src AS u, b.src AS v, sum(1000000 // d.degw) AS ra
         |    FROM negp q JOIN e a ON a.src = q.u JOIN e b
         |      ON b.src = q.v AND b.dst = a.dst
         |    JOIN dg d ON d.w = a.dst GROUP BY 1, 2) s
         |    ON s.u = p.u AND s.v = p.v),
         | ph AS (SELECT ra, CAST(count(*) AS BIGINT) AS cp2
         |   FROM pra GROUP BY 1),
         | nh AS (SELECT ra, CAST(count(*) AS BIGINT) AS cn2
         |   FROM nra GROUP BY 1)
         |SELECT
         |  (SELECT CAST(sum(cp2) AS BIGINT) FROM ph) AS n_pos,
         |  (SELECT CAST(sum(cn2) AS BIGINT) FROM nh) AS n_neg,
         |  CAST(coalesce((SELECT sum(p.cp2 * q.cn2)
         |    FROM ph p JOIN nh q ON p.ra > q.ra), 0) AS BIGINT)
         |    AS concordant,
         |  CAST(coalesce((SELECT sum(p.cp2 * q.cn2)
         |    FROM ph p JOIN nh q ON p.ra = q.ra), 0) AS BIGINT)
         |    AS tied""".stripMargin,

    // recency-decayed activity score: pure bit-shift half-life decay
    "decay_degree" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        | mx AS (SELECT max(day) AS md FROM ev)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(1 << (10 - least(
        |    CAST(((SELECT md FROM mx) - day) // 7 AS INTEGER), 10)))
        |    AS BIGINT) AS score
        |FROM ev GROUP BY 1 ORDER BY user_id""".stripMargin,

    // 2-approx vertex cover: the maximal matching's endpoint set
    "vertex_cover" ->
      s"""WITH cp AS MATERIALIZED ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | allw AS (SELECT src, dst FROM ${matchRounds(matchEdges)} WHERE done AND won)
         |SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM allw UNION ALL SELECT dst FROM allw)
         |ORDER BY id""".stripMargin,

    // dropDuplicatesWithinWatermark replay: duplicates collapse exactly,
    // so the gate is the plain batch per-type count
    "stream_dedup_wm" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // session-scoped ordered funnel over the 4-hour-gap sessions
    "session_funnel" ->
      """WITH m AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |             > CAST(14400 AS BIGINT) * 1000000 THEN 1 ELSE 0 END
        |      AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | ev AS (
        |  SELECT user_id, event_type, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        | base AS (SELECT DISTINCT user_id, sid FROM ev),
        | s1 AS (SELECT user_id, sid, min(us) AS t1 FROM ev
        |   WHERE event_type = 'view' GROUP BY 1, 2),
        | s2 AS (SELECT e.user_id, e.sid, min(e.us) AS t2
        |   FROM ev e JOIN s1 ON s1.user_id = e.user_id AND s1.sid = e.sid
        |   WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1, 2),
        | s3 AS (SELECT e.user_id, e.sid, min(e.us) AS t3
        |   FROM ev e JOIN s2 ON s2.user_id = e.user_id AND s2.sid = e.sid
        |   WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1, 2)
        |SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |    WHEN t2 IS NOT NULL THEN 2
        |    WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  CAST(count(*) AS BIGINT) AS n_sessions
        |FROM base b
        |LEFT JOIN s1 ON s1.user_id = b.user_id AND s1.sid = b.sid
        |LEFT JOIN s2 ON s2.user_id = b.user_id AND s2.sid = b.sid
        |LEFT JOIN s3 ON s3.user_id = b.user_id AND s3.sid = b.sid
        |GROUP BY 1 ORDER BY stage""".stripMargin,

    // Gini of cents per type via the sorted prefix-sum identity
    "value_gini" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT)
        |    AS cents
        |  FROM events),
        | r AS (
        |  SELECT event_type, cents,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn
        |  FROM c WHERE cents >= 0)
        |SELECT event_type, CAST(max(nn) AS BIGINT) AS n,
        |  CAST(sum((2 * rn - nn - 1) * cents) AS BIGINT) AS gini_num,
        |  CAST(max(nn) * sum(cents) AS BIGINT) AS gini_den
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    // time-to-convert quantiles for fully-converted users (funnel3's
    // chain + the discreteBy histogram-rank recipe)
    "conversion_time" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        | s1 AS (SELECT user_id, min(us) AS t1 FROM e
        |   WHERE event_type = 'view' GROUP BY 1),
        | s2 AS (SELECT e.user_id, min(e.us) AS t2
        |   FROM e JOIN s1 ON e.user_id = s1.user_id
        |   WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
        | s3 AS (SELECT e.user_id, min(e.us) AS t3
        |   FROM e JOIN s2 ON e.user_id = s2.user_id
        |   WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1),
        | secs AS (
        |  SELECT (s3.t3 - s1.t1) // 1000000 AS v
        |  FROM s3 JOIN s1 ON s1.user_id = s3.user_id),
        | hist AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
        |   FROM secs GROUP BY 1),
        | cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM hist),
        | n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
        | p AS (SELECT CAST(t.pct AS BIGINT) AS pct,
        |   (n.n * t.pct + 99) // 100 AS target
        |   FROM n, unnest([50, 90]) AS t(pct))
        |SELECT p.pct, CAST(min(c2.v) AS BIGINT) AS secs
        |FROM p JOIN cum c2 ON c2.cum >= p.target
        |GROUP BY 1 ORDER BY pct""".stripMargin,

    // brand-affinity matrix over the weight>=2 co-purchase edges
    "brand_pairs" ->
      s"""WITH cp AS ($CP),
         | cpf AS (SELECT src, dst FROM cp WHERE weight >= 2),
         | bp AS (
         |  SELECT least(pa.p_brand, pb.p_brand) AS brand1,
         |    greatest(pa.p_brand, pb.p_brand) AS brand2
         |  FROM cpf JOIN part pa ON pa.p_partkey = cpf.src
         |  JOIN part pb ON pb.p_partkey = cpf.dst)
         |SELECT brand1, brand2, CAST(count(*) AS BIGINT) AS n_edges
         |FROM bp GROUP BY 1, 2 ORDER BY brand1, brand2""".stripMargin,

    // log2-bucketed joint degree matrix over the symmetrized graph
    "joint_degree" ->
      s"""WITH $UND
         |SELECT CAST(length(bin(d1.outdeg)) AS BIGINT) AS src_bucket,
         |  CAST(length(bin(d2.outdeg)) AS BIGINT) AS dst_bucket,
         |  CAST(count(*) AS BIGINT) AS n_edges
         |FROM e JOIN d d1 ON d1.id = e.src JOIN d d2 ON d2.id = e.dst
         |GROUP BY 1, 2 ORDER BY src_bucket, dst_bucket""".stripMargin
  )
}
