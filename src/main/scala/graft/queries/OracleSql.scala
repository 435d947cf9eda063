package graft.queries

/** DuckDB oracle fragments of the similarity-search rows: how the oracle
  * computes cosine and squared L2, the brute-force top-k truth, IVF
  * cells and probes, PQ codebooks, codes and ADC scores, and the
  * recall-vs-brute tail. Each fragment replays the IEEE op order of the
  * engine code it checks ([[graft.sim.Similarity]], [[graft.sim.Ivf]],
  * [[graft.sim.Pq]]), so a row's oracle is these pieces composed.
  *
  * Every oracle string built from them is pinned by `OracleSqlPinSpec`
  * (md5 of the whitespace-normalised SQL per row): a refactor here must
  * leave every pin green. A deliberate oracle change re-pins by
  * replacing the row's line in `src/test/resources/graft/oracle_sql.md5`
  * and naming the row and the reason in CHANGES.md.
  *
  * Names follow the oracles' conventions: the query CTE `qv` carries
  * `(query_id, qe)`, the brute truth `br` carries `(query_id,
  * neighbor_id)`, a centroid CTE carries `(ce, cell)` and a codebook
  * `(j, code, ce)`.
  */
private[queries] object OracleSql {

  /** Embeddings table width, fixed by the testdata generator. */
  val EmbeddingDim = 64

  /** Exact cosine — same IEEE op sequence as
    * [[graft.sim.Similarity.cosine]] (qs3-validated form).
    */
  def cosineSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x, y) -> x + y))
       * sqrt(list_reduce(list_transform(range(1, len($b) + 1),
          i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)))"""

  /** Exact squared L2 distance over [[EmbeddingDim]] dims — same IEEE
    * op sequence as [[graft.functions.NearestCell.compute]] /
    * [[graft.sim.Ivf.l2sq]] (sequential `(a-b)^2` accumulation).
    */
  def l2sqSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${EmbeddingDim + 1}),
        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"""

  /** [[l2sqSql]] over `len(a)` dims. */
  def l2sqLenSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"""

  /** Squared L2 between the `w`-wide subvector of `a` starting after
    * offset expression `off` and the codeword `b` — the PQ encode
    * distance of [[graft.sim.Pq]].
    */
  def subL2sqSql(a: String, off: String, b: String, w: Int): String =
    s"""list_reduce(list_transform(range(1, ${w + 1}),
                i -> (CAST($a[CAST($off + i AS INT)] AS DOUBLE) - CAST($b[i] AS DOUBLE))
                   * (CAST($a[CAST($off + i AS INT)] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
                (x, y) -> x + y)"""

  /** The four query vectors every recall row measures. */
  val qvCte: String =
    "qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4)"

  /** Brute-force truth: `br0` scores every `table` row (aliased `a`)
    * against `qv`, `br` keeps each query's top `k` by (cosine desc, id).
    */
  def bruteCtes(table: String, a: String, k: Int): String = brute(table, a, k, "")

  /** [[bruteCtes]] over the `table` rows that satisfy `live`, a
    * predicate on alias `a` (the tombstone filter of a serving index).
    */
  def liveBruteCtes(table: String, a: String, k: Int, live: String): String =
    brute(table, a, k, s" AND $live")

  private def brute(table: String, a: String, k: Int, and: String): String =
    s"""br0 AS (SELECT qv.query_id, $a.vec_id AS neighbor_id,
            ${cosineSql(s"$a.embedding", "qv.qe")}
            AS cosine
          FROM $table $a, qv WHERE $a.vec_id <> qv.query_id$and),
        ${topKCte("br", "br0", k)}"""

  /** Top `k` `(query_id, neighbor_id)` of scored CTE `src` by (cosine
    * desc, neighbor_id) — the engine's total ranking order.
    */
  def topKCte(name: String, src: String, k: Int): String =
    s"""$name AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM $src) WHERE rk <= $k)"""

  /** Centroid seeds `(ce, cell)`: the `k` lowest-id vectors of `from`
    * verbatim — what an `iters = 0` [[graft.sim.Ivf.fit]] keeps.
    */
  def cellSeedsCte(name: String, from: String, k: Int): String =
    s"""$name AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM $from ORDER BY vec_id LIMIT $k))"""

  /** Nearest centroid of `cents` for every `table` row (aliased `a`),
    * under the engine's (distance, cell) tie rule.
    */
  def cellCte(name: String, table: String, a: String, cents: String): String =
    s"""$name AS (SELECT vec_id, cell FROM (
          SELECT $a.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY $a.vec_id ORDER BY
              ${l2sqLenSql(s"$a.embedding", "c.ce")},
              c.cell) AS rk
          FROM $table $a CROSS JOIN $cents c) WHERE rk = 1)"""

  /** The `nprobe` nearest cells of `cents` for every `qv` query. */
  def probeCte(name: String, cents: String, nprobe: Int): String =
    s"""$name AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              ${l2sqLenSql("qv.qe", "c.ce")},
              c.cell) AS rk
          FROM qv CROSS JOIN $cents c) WHERE rk <= $nprobe)"""

  /** PQ seed vectors `(embedding, code)`: the `k` lowest-id vectors of
    * `from`, whose subvectors are a seeds-only [[graft.sim.Pq.fit]]'s
    * codewords.
    */
  def codeSeedsCte(name: String, from: String, k: Int): String =
    s"""$name AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM $from ORDER BY vec_id LIMIT $k))"""

  /** Codebooks `(j, code, ce)`: subspace `j` of `m`, `w` dims wide, of
    * every `seeds` vector.
    */
  def codebookCte(name: String, seeds: String, m: Int, w: Int): String =
    s"""$name AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * $w + 1, t.j * $w + $w) AS ce
          FROM $seeds s CROSS JOIN range(0, $m) t(j))"""

  /** PQ codes `(vec_id, j, code)`: the nearest codeword per subspace
    * for every `table` row (aliased `a`), under the (distance, code)
    * tie rule. `cb` is the codebook FROM item; its alias is its last
    * word (`"cb"` or `"ocb cb"`).
    */
  def encodeCte(name: String, table: String, a: String, cb: String, w: Int): String = {
    val c = cb.split(' ').last
    s"""$name AS (SELECT vec_id, j, code FROM (
          SELECT $a.vec_id, $c.j, $c.code,
            ROW_NUMBER() OVER (PARTITION BY $a.vec_id, $c.j ORDER BY
              ${subL2sqSql(s"$a.embedding", s"$c.j * $w", s"$c.ce", w)},
              $c.code) AS rk
          FROM $table $a CROSS JOIN $cb) WHERE rk = 1)"""
  }

  /** One unrolled Lloyd step per PQ subspace ([[graft.sim.Pq.fitLloyd]]
    * at `iters = 1`) over the 4096 lowest-id vectors of `corpus`: seed
    * codewords are subvectors of `seeds`, sample subvectors assign
    * under the (distance, code) tie rule, means are id-ordered
    * sequential float-into-double sums, and an empty code keeps its
    * seed. `cb` unions the refined codebooks as `(j, code, ce)`; every
    * other CTE name carries the prefix `pre`.
    */
  def pqLloydCtes(pre: String, corpus: String, seeds: String, m: Int, w: Int,
      cb: String): String = {
    val perSub = (0 until m).map { j =>
      val o = j * w
      s"""${pre}scb_$j AS (SELECT code, list_slice(embedding, ${o + 1}, ${o + w}) AS ce FROM $seeds),
        ${pre}a1_$j AS (SELECT vec_id, sub, code FROM (
          SELECT s.vec_id, list_slice(s.embedding, ${o + 1}, ${o + w}) AS sub, sc.code,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
              ${subL2sqSql("s.embedding", o.toString, "sc.ce", w)},
              sc.code) AS rk
          FROM ${pre}samp s CROSS JOIN ${pre}scb_$j sc) WHERE rk = 1),
        ${pre}a1d_$j AS (SELECT a.code, a.vec_id, t.i, CAST(a.sub[t.i] AS DOUBLE) AS v
          FROM ${pre}a1_$j a, range(1, ${w + 1}) t(i)),
        ${pre}m1_$j AS (SELECT code, i,
            list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y) / COUNT(*) AS cv
          FROM ${pre}a1d_$j GROUP BY code, i),
        ${pre}c1d_$j AS (SELECT sc.code, t.i, COALESCE(m.cv, CAST(sc.ce[t.i] AS DOUBLE)) AS cv
          FROM ${pre}scb_$j sc CROSS JOIN range(1, ${w + 1}) t(i)
          LEFT JOIN ${pre}m1_$j m ON m.code = sc.code AND m.i = t.i),
        ${pre}c1_$j AS (SELECT code, list(cv ORDER BY i) AS ce FROM ${pre}c1d_$j GROUP BY code)"""
    }
    val union = (0 until m).map(j => s"SELECT $j AS j, code, ce FROM ${pre}c1_$j")
      .mkString(" UNION ALL ")
    (s"${pre}samp AS (SELECT vec_id, embedding FROM $corpus ORDER BY vec_id LIMIT 4096)" +:
      perSub :+ s"$cb AS ($union)").mkString(",\n        ")
  }

  /** Squared norm `qnsq` of every `qv` query — the ADC cosine's
    * query-side denominator.
    */
  val qnCte: String =
    """qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv)"""

  /** ADC scoring at the serving shape (16 subspaces of 4 dims) of the
    * codes `enc` against the codewords `cb`, for the (vector, query)
    * pairs `joins` admits with query CTE `q`: `pj` holds each
    * subspace's query dot and codeword norm, `p0` their sums in
    * subspace order ([[graft.sim.Pq]]'s lookup-table accumulation).
    * Every CTE name (`enc`, `cb`, `pj`, `p0`) carries the prefix `pre`.
    */
  def adcCtes(pre: String, q: String, joins: String): String =
    s"""${pre}pj AS (SELECT enc.vec_id, $q.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST($q.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM ${ref(pre, "enc")} JOIN ${ref(pre, "cb")} ON cb.j = enc.j AND cb.code = enc.code
          $joins),
        ${pre}p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM ${pre}pj GROUP BY vec_id, query_id)"""

  /** [[adcCtes]]' join for an IVF-PQ index: the vectors whose cell `ca`
    * is one of the query's probed cells `qp` (both prefixed `cells`).
    */
  def probedJoin(cells: String): String =
    s"JOIN ${ref(cells, "ca")} ON ca.vec_id = enc.vec_id " +
      s"JOIN ${ref(cells, "qp")} ON qp.cell = ca.cell AND enc.vec_id <> qp.query_id"

  /** CTE `t` prefixed `pre` as a FROM item aliased `t`. */
  private def ref(pre: String, t: String): String =
    if (pre.isEmpty) t else s"$pre$t $t"

  /** `p1` (prefixed `pre`): the ADC cosine of [[adcCtes]]' sums. */
  def adcCosineCte(pre: String): String =
    s"""${pre}p1 AS (SELECT ${pre}p0.query_id, ${pre}p0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM ${pre}p0 JOIN qn ON qn.query_id = ${pre}p0.query_id)"""

  /** Sign-bit binary codes ([[graft.sim.Similarity.signBits]]): `thr`
    * holds each dimension's mean over the 256 lowest-id vectors
    * (id-ordered sequential sums), `cbits` every vector's 64-bit code,
    * `qbits` every `qv` query's. Bit 63 is spelled arithmetically:
    * DuckDB's checked shift overflows on `1 << 63`.
    */
  val signBitsCtes: String =
    """smp AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256),
        thr AS (SELECT r.i,
            list_reduce(list(CAST(s.embedding[r.i] AS DOUBLE) ORDER BY s.vec_id),
              (x, y) -> x + y) / CAST(COUNT(*) AS DOUBLE) AS t
          FROM smp s CROSS JOIN range(1, 65) r(i) GROUP BY r.i),
        cbits AS (SELECT e.vec_id, CAST(SUM(
            CASE WHEN CAST(e.embedding[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS code
          FROM embeddings e CROSS JOIN thr GROUP BY e.vec_id),
        qbits AS (SELECT qv.query_id, CAST(SUM(
            CASE WHEN CAST(qv.qe[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS qcode
          FROM qv CROSS JOIN thr GROUP BY qv.query_id)"""

  /** `c50`: each query's 50 nearest vectors by Hamming distance over
    * the sign codes, (distance, id) ties — the two-stage coarse pass.
    */
  val hammingC50Cte: String =
    """c50 AS (SELECT query_id, neighbor_id FROM (
          SELECT qb.query_id, cb2.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY qb.query_id
              ORDER BY bit_count(xor(cb2.code, qb.qcode)), cb2.vec_id) AS rk
          FROM cbits cb2, qbits qb WHERE cb2.vec_id <> qb.query_id) WHERE rk <= 50)"""

  /** [[hammingC50Cte]] restricted to the vectors of each query's probed
    * `qp` cells (cell assignment `ca`).
    */
  val probedHammingC50Cte: String =
    """c50 AS (SELECT query_id, neighbor_id FROM (
          SELECT qp.query_id, cb2.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY qp.query_id
              ORDER BY bit_count(xor(cb2.code, qb.qcode)), cb2.vec_id) AS rk
          FROM cbits cb2 JOIN ca ON ca.vec_id = cb2.vec_id
          JOIN qp ON qp.cell = ca.cell AND cb2.vec_id <> qp.query_id
          JOIN qbits qb ON qb.query_id = qp.query_id) WHERE rk <= 50)"""

  /** The two-stage rerank of the `c50` shortlist: ADC-scored (`pj`/`p0`
    * over codes `enc`), `s20` keeps each query's top 20 by ADC cosine,
    * `x0` rescores those by exact cosine.
    */
  val twoStageRerankCtes: String =
    s"""${adcCtes("", "qv", "JOIN c50 ON c50.neighbor_id = enc.vec_id JOIN qv ON qv.query_id = c50.query_id")},
        s20 AS (SELECT query_id, neighbor_id FROM (
          SELECT p0.query_id, p0.neighbor_id, ROW_NUMBER() OVER (PARTITION BY p0.query_id
            ORDER BY num / (sqrt(rn) * sqrt(qn.qnsq)) DESC, p0.neighbor_id) AS rk
          FROM p0 JOIN qn ON qn.query_id = p0.query_id) WHERE rk <= 20),
        x0 AS (SELECT s20.query_id, s20.neighbor_id,
            ${cosineSql("e.embedding", "qv.qe")}
            AS cosine
          FROM s20 JOIN embeddings e ON e.vec_id = s20.neighbor_id
          JOIN qv ON qv.query_id = s20.query_id)"""

  /** Final projection of a ranking: each query's top `k` of scored CTE
    * `src` as `(query_id, neighbor_id, rank)`, ordered.
    */
  def rankedTopKSql(src: String, k: Int): String =
    s"""SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM $src) WHERE rk <= $k
        ORDER BY query_id, rank"""

  /** Final projection of the scored pairs `sc`: each query's top 5 as
    * `(query_id, rank, neighbor_id, cosine)`, ordered — the shape of
    * [[graft.sim.Similarity.bruteTopK]] and the ANN top-k rows.
    */
  val rankedCosineTail: String =
    """r AS (SELECT query_id, neighbor_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM sc)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
        FROM r WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Per-query count of `ann`'s neighbors that are in the brute `br`. */
  def hitCte(name: String, ann: String): String =
    s"""$name AS (SELECT a.query_id, COUNT(*) AS n_hit FROM $ann a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id)"""

  /** Recall of `ann` against `br`, projected as [[graft.sim.Similarity
    * .recallAtK]] is: `(query_id, n_hit, n_exact, recall)` by query_id.
    */
  def recallTail(ann: String): String =
    s"""${hitCte("hit", ann)},
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id"""
}
