"""DuckDB oracle SQL for the KG-construction lane.

The KG queries derive their input transcripts deterministically from the
`documents` table (datagen.py), and every kernel in the pipeline is
regex/set algebra (functions/text.py) — all expressible in DuckDB SQL. This
module GENERATES one long CTE chain that re-derives, entirely inside DuckDB:

  documents → conversation sentences (datagen._conv_sentences)
            → turn packing (datagen.build_transcripts_pdf)
            → pipeline sentence re-split (stages.extract_sentences, C2)
            → slide-2 evidence pool (C3) → claim detection (mention regex)
            → linking + filters (J7, F2/F3) → verbalize (M1)
            → pair + Jaccard similarity + top-k (J9/M2/W1)
            → NLI lanes (M3) → verdict algebra (A2/A3/A4/C18)
            → canonical rekey (connected components, materialized literal map)

so the driver's Spark-vs-DuckDB hash compare covers the flagship end to end.
Dictionary literals (aliases, predicates, popularity resolution, canonical
map) are inlined as VALUES/constant lists from the single source of truth in
dictionaries.py — the same literals the Spark dims broadcast.

Exactness notes (the discipline that keeps value hashes identical):
- similarity is quantized to the 2^-20 dyadic grid (functions/text.py), so
  double sums are order-independent and bit-equal across runtimes;
- the multiply/add/floor order in the SQL matches jvm_kernels.similarity
  exactly: floor((inter/union) * 2^20 + 0.5) / 2^20;
- DuckDB's RE2 has no lookbehind, so the sentence split `(?<=[.!?])\\s+`
  (Java regex in stages) is re-expressed as replace-punct-ws-with-\\x01 then
  split — equivalent because the whitespace is consumed either way;
- token sets are order-insensitive (only intersect/size/containment used).
"""

from __future__ import annotations

from ..config import DEFAULT_CONFIG, SENT_ID_STRIDE
from ..dictionaries import (
    ALIASES,
    BAD_DATATYPES,
    BLACKLIST_PIDS,
    ENTITIES,
    HOT_QIDS,
    PREDICATES,
    resolve_alias_map,
)
from ..functions.jvm_kernels import claim_pattern
from ..functions.text import _NORMALIZE_MAP, _QUANT


def _q(s: str) -> str:
    """SQL single-quoted literal."""
    return "'" + s.replace("'", "''") + "'"


def _values(rows: list[tuple], types: list[str] | None = None) -> str:
    def cell(v, i):
        lit = _q(v) if isinstance(v, str) else str(v)
        return f"CAST({lit} AS {types[i]})" if types else lit

    return ", ".join(
        "(" + ", ".join(cell(v, i) for i, v in enumerate(r)) + ")" for r in rows
    )


def _norm_sql(e: str) -> str:
    """normalize_text (C6/C7) as a DuckDB expression over expression `e` —
    same operation order as functions/text.py:normalize_text and
    jvm_kernels.normalize_expr."""
    src = _q("".join(_NORMALIZE_MAP.keys()))
    dst = _q("".join(_NORMALIZE_MAP.values()))
    e = f"translate({e}, {src}, {dst})"
    e = f"regexp_replace({e}, '-lrb-|\\(', ' ( ', 'gi')"
    e = f"regexp_replace({e}, '-rrb-|\\)', ' ) ', 'gi')"
    e = f"replace({e}, '--', '-')"
    e = f"replace({e}, '``', '\"')"
    e = f"replace({e}, {_q(chr(39) * 2)}, '\"')"
    e = f"regexp_replace({e}, '\\s+', ' ', 'g')"
    return f"lower(trim({e}))"


def _tok_sql(e: str) -> str:
    """token_set / token_set_expr twin: distinct [a-z0-9]+ runs."""
    return f"list_distinct(regexp_extract_all(lower({e}), '[a-z0-9]+'))"


def _sim_sql(a: str, b: str) -> str:
    """jvm_kernels.similarity_from_tokens twin — identical binary64 op order."""
    inter = f"len(list_intersect({a}, {b}))"
    return (
        f"CASE WHEN len({a}) = 0 OR len({b}) = 0 THEN 0.0 "
        f"ELSE floor(CAST({inter} AS DOUBLE) "
        f"/ CAST(len({a}) + len({b}) - {inter} AS DOUBLE) "
        f"* {_QUANT!r} + 0.5) / {_QUANT!r} END"
    )


def _pack_rows() -> list[tuple[int, int, int]]:
    """(doc_id%3, sentence_index%6) → turn offset within the 3-turn block.

    Re-derives datagen.build_transcripts_pdf's greedy packing (turn t takes
    (doc_id+t)%3+1 sentences; a block of 3 turns consumes exactly 6
    sentences, so the mapping is periodic with period 6)."""
    rows = []
    for d in range(3):
        within = 0
        for t_off in range(3):
            for _ in range((d + t_off) % 3 + 1):
                rows.append((d, within, t_off))
                within += 1
        assert within == 6
    return rows


def _kg_ctes() -> str:
    cfg = DEFAULT_CONFIG
    classes = list(cfg.classes)
    resolved = resolve_alias_map()
    label_by_qid = dict(ENTITIES)

    ent_qids = "[" + ", ".join(_q(q) for q, _ in ENTITIES) + "]"
    hot_qids = "[" + ", ".join(_q(q) for q in HOT_QIDS) + "]"
    n_ent = len(ENTITIES)

    aliases_by_qid: dict[str, list[str]] = {}
    for a, qq in ALIASES:
        aliases_by_qid.setdefault(qq, []).append(a)
    apick_rows = []
    for qq, als in aliases_by_qid.items():
        als = sorted(als)
        for k, a in enumerate(als):
            apick_rows.append((qq, k, a, len(als)))

    preds_rows = [
        (i, pid, pat, plabel, dt)
        for i, (pid, pat, plabel, dt) in enumerate(PREDICATES)
    ]
    resolved_rows = [
        (alias, qid, label_by_qid[qid]) for alias, qid in sorted(resolved.items())
    ]
    from ..oracle import canonical_map

    canon_rows = sorted(canonical_map().items())

    pat = _q(claim_pattern(
        sorted({a for a, _ in ALIASES}), sorted({p for _, p, _, _ in PREDICATES})
    ))
    bad_dt = ", ".join(_q(d) for d in BAD_DATATYPES)
    bad_pid = ", ".join(_q(p) for p in BLACKLIST_PIDS)
    d0, d1, d2 = cfg.default_probs
    # NLI probability templates (order: SUPPORTS, REFUTES, NEI)
    from ..functions.text import PROBS_NEI, PROBS_REFUTE, PROBS_SUPPORT

    def lane_probs(i: int) -> str:
        return (
            f"CASE lane WHEN 0 THEN {PROBS_SUPPORT[i]!r} "
            f"WHEN 1 THEN {PROBS_REFUTE[i]!r} ELSE {PROBS_NEI[i]!r} END"
        )

    norm_sentence = _norm_sql("sentence")
    split_expr = (
        "list_filter(list_transform("
        "string_split(regexp_replace(substr(turn_text, 1, "
        f"{cfg.max_turn_chars}), '([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)), "
        "s -> regexp_replace(s, '^\\s+|\\s+$', '', 'g')), s -> s <> '')"
    )

    return f"""
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
),
consts AS (SELECT {ent_qids} AS ent_q, {hot_qids} AS hot_q),
apick(qid, k, alias, cnt) AS (VALUES {_values(apick_rows)}),
preds(idx, pid, pattern, plabel, datatype) AS (VALUES {_values(preds_rows)}),
resolved(alias, qid, label) AS (VALUES {_values(resolved_rows)}),
canon(qid, canonical_qid) AS (VALUES {_values(canon_rows)}),
pack(d, within, t_off) AS (VALUES {_values(_pack_rows())}),
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws
  FROM docs
),
fillers AS (
  SELECT doc_id, fi,
         CASE WHEN doc_id % 7 = 0 AND fi = 0
              THEN substr(f, 1, length(f) - 1) || '（extra）.'
              ELSE f END AS sentence
  FROM (
    SELECT doc_id, unnest(fl) AS f, generate_subscripts(fl, 1) - 1 AS fi
    FROM (
      SELECT doc_id,
             [array_to_string(ws[i + 1 : i + 10], ' ') || '.'
              for i in range(0, greatest(len(ws), 1), 10)] AS fl
      FROM words) t
  ) t2
),
claims_j AS (
  SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS j FROM docs
),
claims_idx AS (
  SELECT cj.doc_id, cj.j,
    CASE WHEN (cj.doc_id * 7 + cj.j * 13) % 20 < 10
         THEN c.hot_q[(cj.doc_id * 7 + cj.j * 13) % 20 % {len(HOT_QIDS)} + 1]
         ELSE c.ent_q[(cj.doc_id * 7 + cj.j * 13) % {n_ent} + 1]
    END AS subj_qid,
    (cj.doc_id * 11 + cj.j * 5) % {len(PREDICATES)} AS pred_idx,
    c.ent_q[(cj.doc_id * 3 + cj.j * 17 + 1) % {n_ent} + 1] AS obj1,
    c.ent_q[(cj.doc_id * 3 + cj.j * 17 + 2) % {n_ent} + 1] AS obj2
  FROM claims_j cj CROSS JOIN consts c
),
claims_gen AS (
  SELECT ci.doc_id, ci.j,
         asub.alias AS subj_alias, aobj.alias AS obj_alias,
         p.pattern, p.plabel,
         rs.label AS s_label, ro.label AS o_label,
         (ci.doc_id + 2 * ci.j) % 4 AS mode
  FROM (
    SELECT doc_id, j, subj_qid, pred_idx,
           CASE WHEN obj1 = subj_qid THEN obj2 ELSE obj1 END AS obj_qid
    FROM claims_idx) ci
  JOIN preds p ON p.idx = ci.pred_idx
  JOIN apick asub ON asub.qid = ci.subj_qid
                 AND asub.k = (ci.doc_id + ci.j) % asub.cnt
  JOIN apick aobj ON aobj.qid = ci.obj_qid
                 AND aobj.k = (ci.doc_id + 2 * ci.j) % aobj.cnt
  JOIN resolved rs ON rs.alias = asub.alias
  JOIN resolved ro ON ro.alias = aobj.alias
),
conv_rows AS (
  SELECT doc_id, fi // 2 AS r, (fi % 2) * 2 AS slot, sentence FROM fillers
  UNION ALL
  SELECT doc_id, j AS r, 1 AS slot,
         subj_alias || ' ' || pattern || ' ' || obj_alias || '.' AS sentence
  FROM claims_gen
  UNION ALL
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY j) - 1 AS r,
         3 AS slot,
         CASE WHEN mode IN (0, 1)
              THEN 'indeed ' || s_label || ' ' || plabel || ' ' || o_label || '.'
              ELSE s_label || ' does not ' || pattern || ' ' || o_label || '.'
         END AS sentence
  FROM claims_gen WHERE mode <> 3
),
conv_sents AS (
  SELECT doc_id, sentence,
         row_number() OVER (PARTITION BY doc_id ORDER BY r, slot) - 1 AS i
  FROM conv_rows
),
turns AS (
  SELECT doc_id, turn_idx,
         printf('conv-%06d', doc_id) AS conv_id,
         string_agg(sentence, ' ' ORDER BY i) AS turn_text
  FROM (
    SELECT cs.doc_id, cs.sentence, cs.i,
           (cs.i // 6) * 3 + p.t_off AS turn_idx
    FROM conv_sents cs
    JOIN pack p ON p.d = cs.doc_id % 3 AND p.within = cs.i % 6) placed
  GROUP BY doc_id, turn_idx
),
base AS (
  SELECT conv_id,
         CAST(turn_idx AS BIGINT) * {SENT_ID_STRIDE}
           + 2 * (generate_subscripts(sents, 1) - 1) AS sent_id,
         unnest(sents) AS sentence
  FROM (SELECT conv_id, turn_idx, {split_expr} AS sents FROM turns) t
),
pool AS (
  SELECT conv_id, sent_id, sentence FROM base
  UNION ALL
  SELECT conv_id, sent_id + 1 AS sent_id,
         sentence || {_q(cfg.slide_join)}
           || lead(sentence) OVER (PARTITION BY conv_id ORDER BY sent_id)
           AS sentence
  FROM base
  QUALIFY lead(sentence) OVER (PARTITION BY conv_id ORDER BY sent_id)
          IS NOT NULL
),
pool_tok AS (
  SELECT conv_id, sent_id AS ev_sent_id, sentence AS ev_sentence,
         {_tok_sql("sentence")} AS ev_tokens
  FROM pool
),
det0 AS (
  SELECT conv_id, sent_id, norm, regexp_extract(norm, {pat}, 0) AS m0
  FROM (SELECT conv_id, sent_id, {norm_sentence} AS norm FROM base) t
),
claims_det AS (
  SELECT conv_id, sent_id,
         regexp_extract(norm, {pat}, 1) AS subj_alias,
         regexp_extract(norm, {pat}, 2) AS pattern,
         regexp_extract(norm, {pat}, 3) AS obj_alias
  FROM det0
  WHERE m0 <> '' AND NOT starts_with(m0, 'indeed ')
    AND NOT contains(m0, ' does not ') AND NOT contains(m0, ' never ')
),
linked AS (
  SELECT c.conv_id, c.sent_id,
         c.conv_id || ':' || CAST(c.sent_id AS VARCHAR) AS claim_id,
         p.pid AS property_id,
         rs.qid AS subj_qid, ro.qid AS obj_qid,
         {_tok_sql("rs.label")} AS subj_tokens,
         {_tok_sql("ro.label")} AS obj_tokens,
         {_tok_sql(_norm_sql("rs.label || ' ' || p.plabel || ' ' || ro.label"))}
           AS verb_tokens
  FROM claims_det c
  JOIN preds p ON p.pattern = c.pattern
  JOIN resolved rs ON rs.alias = c.subj_alias
  JOIN resolved ro ON ro.alias = c.obj_alias
  WHERE p.datatype NOT IN ({bad_dt}) AND p.pid NOT IN ({bad_pid})
),
topk AS (
  SELECT * FROM (
    SELECT l.claim_id, l.conv_id, l.subj_tokens, l.obj_tokens, l.verb_tokens,
           pt.ev_sent_id, pt.ev_sentence, pt.ev_tokens,
           {_sim_sql("l.verb_tokens", "pt.ev_tokens")} AS sim
    FROM linked l JOIN pool_tok pt USING (conv_id)) pairs
  QUALIFY row_number() OVER (
    PARTITION BY claim_id ORDER BY sim DESC, ev_sent_id ASC
  ) <= {cfg.top_k_evidence}
),
kept AS (
  SELECT *,
    CASE WHEN list_has_all(ev_tokens, subj_tokens)
              AND list_has_all(ev_tokens, obj_tokens)
              AND (list_contains(ev_tokens, 'not')
                   OR list_contains(ev_tokens, 'never')) THEN 1
         WHEN list_has_all(ev_tokens, verb_tokens) THEN 0
         ELSE 2 END AS lane
  FROM topk WHERE sim > {cfg.similarity_threshold!r}
),
kept_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY claim_id, lane ORDER BY sim DESC, ev_sent_id ASC
  ) AS lrn
  FROM kept
),
claim_agg AS (
  SELECT claim_id,
         sum({lane_probs(0)} * sim) AS s0,
         sum({lane_probs(1)} * sim) AS s1,
         sum({lane_probs(2)} * sim) AS s2,
         count(*) FILTER (WHERE lane = 0) AS c0,
         count(*) FILTER (WHERE lane = 1) AS c1,
         count(*) FILTER (WHERE lane = 2) AS c2,
         max(CASE WHEN lane = 0 AND lrn = 1 THEN ev_sentence END) AS fs0,
         max(CASE WHEN lane = 1 AND lrn = 1 THEN ev_sentence END) AS fs1,
         max(CASE WHEN lane = 2 AND lrn = 1 THEN ev_sentence END) AS fs2
  FROM kept_ranked GROUP BY claim_id
),
verdicts AS (
  SELECT l.conv_id, l.claim_id, l.sent_id, l.subj_qid, l.property_id,
         l.obj_qid,
         coalesce(a.s0, {d0!r}) AS w0,
         coalesce(a.s1, {d1!r}) AS w1,
         coalesce(a.s2, {d2!r}) AS w2,
         coalesce(a.c0, 0) AS c0, coalesce(a.c1, 0) AS c1,
         coalesce(a.c2, 0) AS c2,
         a.fs0, a.fs1, a.fs2
  FROM linked l LEFT JOIN claim_agg a USING (claim_id)
),
triples AS (
  SELECT cs.canonical_qid AS subj,
         v.property_id AS pred,
         co.canonical_qid AS obj,
         v.conv_id,
         CAST(v.sent_id // {SENT_ID_STRIDE} AS INTEGER) AS turn_idx,
         v.claim_id,
         CASE WHEN w0 >= w1 AND w0 >= w2 THEN {_q(classes[0])}
              WHEN w1 >= w2 THEN {_q(classes[1])}
              ELSE {_q(classes[2])} END AS verdict,
         CASE WHEN c0 > 0 THEN {_q(classes[0])}
              WHEN c1 > 0 THEN {_q(classes[1])}
              ELSE {_q(classes[2])} END AS malon,
         CASE WHEN w0 >= w1 AND w0 >= w2 THEN w0
              WHEN w1 >= w2 THEN w1 ELSE w2 END AS score,
         CASE WHEN c0 > 0 THEN fs0
              WHEN c1 > c2 THEN fs1 ELSE fs2 END AS result_sentence,
         w0 AS w_supports, w1 AS w_refutes, w2 AS w_nei
  FROM verdicts v
  JOIN canon cs ON cs.qid = v.subj_qid
  JOIN canon co ON co.qid = v.obj_qid
)"""


def kg_triples_sql() -> str:
    """Flagship oracle: the full (subj, pred, obj, …) triple set."""
    return (
        _kg_ctes()
        + """
SELECT subj, pred, obj, conv_id, turn_idx, claim_id, verdict, malon, score,
       result_sentence, w_supports, w_refutes, w_nei
FROM triples"""
    )


def _rollup_select() -> str:
    cfg = DEFAULT_CONFIG
    c = list(cfg.classes)
    return f"""
SELECT subj,
       count(*) FILTER (WHERE verdict = {_q(c[0])}) AS n_supports,
       count(*) FILTER (WHERE verdict = {_q(c[1])}) AS n_refutes,
       count(*) FILTER (WHERE verdict = {_q(c[2])}) AS n_nei,
       count(*) FILTER (WHERE verdict = {_q(cfg.error_class)}) AS n_errors,
       (count(*) FILTER (WHERE verdict = {_q(c[0])})
        - count(*) FILTER (WHERE verdict = {_q(c[1])}))
       / count(*) AS prove_score
FROM triples GROUP BY subj"""


def kg_entity_rollup_sql() -> str:
    """A6 rollup oracle: per-entity verdict pivot + proveScore."""
    return _kg_ctes() + _rollup_select()


def kg_top_supported_sql() -> str:
    """Flagship read query oracle: top-10 entities by supported-claim count.
    Deterministic despite the LIMIT — subj is unique per rollup row, so
    (n_supports DESC, subj ASC) is a total order."""
    return (
        "SELECT * FROM ("
        + kg_entity_rollup_sql()
        + ") ORDER BY n_supports DESC, subj ASC LIMIT 10"
    )


PAGERANK_ITERS = 6
PAGERANK_DAMPING = "CAST(0.85 AS DOUBLE)"
PAGERANK_TELEPORT = "CAST(0.15 AS DOUBLE)"


def _pr_qz(e: str) -> str:
    """Quantize a double to the 1e-12 grid with HALF_UP (FLOOR(x*Q+0.5)/Q —
    identical in Spark and DuckDB; Python/banker's round() would diverge)."""
    return f"FLOOR(({e}) * 1e12 + CAST(0.5 AS DOUBLE)) / 1e12"


def kg_pagerank_sql() -> str:
    """PageRank oracle over the constructed triple graph: the Spark side's
    six iterative join+aggregate rounds unrolled as a CTE chain (pr_r0 …
    pr_r6). Same simplified-PageRank variant as the Spark plan (no dangling-
    mass redistribution — scores are a ranking signal, not a distribution),
    same arithmetic discipline: contributions rank/outdeg are IEEE double
    divisions (bit-identical across engines), per-node sums go through
    DECIMAL(28,14) (exact, order-independent), and each iteration's rank is
    quantized to the 1e-12 grid so the hash compare sees identical doubles.
    All numeric literals are CAST to DOUBLE — a bare 0.85 is a DECIMAL
    literal in DuckDB and would route the multiply through decimal rules."""
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so every
    # round's references to the derived graph (pr_edges, pr_out, pr_nodes,
    # pr_n) would re-expand the whole documents → triples chain — measured
    # out of memory at sf0.001 (12.5 GiB) unhinted.
    sql = (
        _kg_ctes()
        + f""",
pr_edges AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM triples WHERE subj <> obj),
pr_nodes AS MATERIALIZED (SELECT subj AS entity FROM triples UNION SELECT obj AS entity FROM triples),
pr_n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM pr_nodes),
pr_out AS MATERIALIZED (SELECT src, COUNT(*) AS odeg FROM pr_edges GROUP BY src),
pr_r0 AS (
  SELECT entity, {_pr_qz('CAST(1.0 AS DOUBLE) / n_nodes')} AS pr
  FROM pr_nodes CROSS JOIN pr_n)"""
    )
    for t in range(1, PAGERANK_ITERS + 1):
        sql += f""",
pr_c{t} AS (
  SELECT e.dst, SUM(CAST(p.pr / o.odeg AS DECIMAL(28,14))) AS s
  FROM pr_edges e JOIN pr_out o USING (src) JOIN pr_r{t - 1} p ON p.entity = e.src
  GROUP BY e.dst),
pr_r{t} AS (
  SELECT n.entity,
         {_pr_qz(f"{PAGERANK_TELEPORT} / pn.n_nodes"
                 f" + {PAGERANK_DAMPING} * COALESCE(CAST(c.s AS DOUBLE), CAST(0.0 AS DOUBLE))")} AS pr
  FROM pr_nodes n CROSS JOIN pr_n pn LEFT JOIN pr_c{t} c ON c.dst = n.entity)"""
    sql += f"""
SELECT r.entity, r.pr AS pagerank, CAST(COALESCE(o.odeg, 0) AS BIGINT) AS out_degree
FROM pr_r{PAGERANK_ITERS} r LEFT JOIN pr_out o ON o.src = r.entity"""
    return sql


def _und_cte(p: str) -> str:
    """The `{p}_und` CTE: canonical undirected (a < b) distinct edge set of
    the entity graph — the SQL twin of registry._kg_undirected_edges, defined
    ONCE here so the triangle and label-propagation oracles cannot drift
    from the Spark-side derivation or from each other."""
    return f"""{p}_und AS MATERIALIZED (
  SELECT DISTINCT LEAST(subj, obj) AS a, GREATEST(subj, obj) AS b
  FROM triples WHERE subj <> obj)"""


def kg_triangles_sql() -> str:
    """Triangle-participation oracle over the KG entity graph: undirected
    distinct edge set, edges oriented from the (degree, id)-smaller endpoint
    so each triangle is enumerated exactly once as a wedge at its minimum
    vertex plus a closure lookup (the Spark plan's orientation trick,
    mirrored literally). Integer-only arithmetic — no float parity concerns."""
    # MATERIALIZED for the same reason as kg_pagerank_sql: tri_und, tri_deg
    # and tri_or are each referenced several times, and inlined each
    # reference re-expands the documents → triples chain (measured 71 s at
    # sf0.001 unhinted).
    return (
        _kg_ctes()
        + f""",
{_und_cte("tri")},
tri_deg AS MATERIALIZED (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM tri_und UNION ALL SELECT b AS v FROM tri_und
  ) GROUP BY v),
tri_or AS MATERIALIZED (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS dst
  FROM tri_und e JOIN tri_deg da ON da.v = e.a JOIN tri_deg db ON db.v = e.b),
tri_tris AS (
  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
  FROM tri_or o1
  JOIN tri_or o2 ON o2.src = o1.src AND o1.dst < o2.dst
  JOIN tri_und c ON c.a = o1.dst AND c.b = o2.dst),
tri_counts AS (
  SELECT v, COUNT(*) AS n FROM (
    SELECT x AS v FROM tri_tris
    UNION ALL SELECT y AS v FROM tri_tris
    UNION ALL SELECT z AS v FROM tri_tris
  ) GROUP BY v)
SELECT d.v AS entity, CAST(d.deg AS BIGINT) AS degree,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
FROM tri_deg d LEFT JOIN tri_counts c ON c.v = d.v"""
    )


LPA_ITERS = 4


def kg_label_propagation_sql() -> str:
    """Synchronous label-propagation oracle over the KG entity graph: the
    Spark side's fixed-round loop unrolled as a CTE chain. Deterministic
    variant — every round each node adopts its neighbors' most frequent
    label with ties broken by MIN label (plain async LPA is order-dependent
    and un-oracle-able); isolated nodes keep their own label. String/int
    arithmetic only — no float parity concerns."""
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references lp_r{t-1} TWICE (candidate counting + the carry-
    # forward left join), so an un-hinted chain re-evaluates the entire KG
    # build 2^t times — measured 530 s at sf0.01 vs ~2 s materialized.
    # (kg_pagerank's chain references each round once, so only its derived
    # graph needs the hint.) Oracle-side only; the Spark plan truncates round lineage
    # for the same reason (plans/iterstate.py).
    sql = (
        _kg_ctes()
        + f""",
{_und_cte("lp")},
lp_nbr AS MATERIALIZED (SELECT a AS src, b AS dst FROM lp_und
           UNION ALL SELECT b AS src, a AS dst FROM lp_und),
lp_nodes AS MATERIALIZED (SELECT subj AS entity FROM triples
             UNION SELECT obj AS entity FROM triples),
lp_r0 AS MATERIALIZED (SELECT entity, entity AS lbl FROM lp_nodes)"""
    )
    for t in range(1, LPA_ITERS + 1):
        sql += f""",
lp_c{t} AS (
  SELECT n.src AS v, p.lbl, COUNT(*) AS c
  FROM lp_nbr n JOIN lp_r{t - 1} p ON p.entity = n.dst
  GROUP BY n.src, p.lbl),
lp_p{t} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
    FROM lp_c{t})
  WHERE rn = 1),
lp_r{t} AS MATERIALIZED (
  SELECT r.entity, COALESCE(p.lbl, r.lbl) AS lbl
  FROM lp_r{t - 1} r LEFT JOIN lp_p{t} p ON p.v = r.entity)"""
    sql += f""",
lp_sizes AS (SELECT lbl, COUNT(*) AS n FROM lp_r{LPA_ITERS} GROUP BY lbl)
SELECT r.entity, r.lbl AS community, CAST(s.n AS BIGINT) AS community_size
FROM lp_r{LPA_ITERS} r JOIN lp_sizes s ON s.lbl = r.lbl"""
    return sql


def kg_entities_sql() -> str:
    """Entities-dimension oracle (build_entities twin)."""
    ent_rows = ENTITIES
    return (
        _kg_ctes()
        + f""",
ent_labels(qid, label) AS (VALUES {_values(ent_rows)}),
dim AS (
  SELECT c.canonical_qid,
         arg_min(e.label, CAST(substr(c.qid, 2) AS BIGINT)) AS label,
         array_to_string(list_sort(list(DISTINCT c.qid)), ',') AS member_qids
  FROM canon c JOIN ent_labels e USING (qid)
  GROUP BY c.canonical_qid
),
subj_stats AS (
  SELECT subj AS canonical_qid, count(*) AS n_subj_claims,
         sum(CASE WHEN verdict = {_q(DEFAULT_CONFIG.classes[0])}
                  THEN 1 ELSE 0 END) AS n_subj_supports
  FROM triples GROUP BY subj
),
obj_stats AS (
  SELECT obj AS canonical_qid, count(*) AS n_obj_claims
  FROM triples GROUP BY obj
)
SELECT d.canonical_qid, d.label, d.member_qids,
       CAST(coalesce(s.n_subj_claims, 0) AS BIGINT) AS n_subj_claims,
       CAST(coalesce(s.n_subj_supports, 0) AS BIGINT) AS n_subj_supports,
       CAST(coalesce(o.n_obj_claims, 0) AS BIGINT) AS n_obj_claims
FROM dim d
LEFT JOIN subj_stats s USING (canonical_qid)
LEFT JOIN obj_stats o USING (canonical_qid)"""
    )
