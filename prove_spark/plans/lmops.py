"""Representation and language-model-flavored corpus operators, each with
a DuckDB oracle: sparse random-projection embedding compression (the
Johnson-Lindenstrauss step that shrinks vectors before ANN / clustering)
and corpus-trained bigram language-model scoring (the CCNet-style
"perplexity bucket" quality signal, kept rational so it is cross-engine
exact).

Reference anchor: the reference scores evidence sentences with learned
models over text (ProVe `Wikidata_claims_refuting_evidence.ipynb`-era
sentence selection, `utils/textual_entailment_module.py`); these are the
corpus-STATISTICS twins of that idea — no checkpoint, every number derived
from the input relation itself, so they stay deterministic and oracled.

Exactness rules (same discipline as plans/textops.py):
- per-element probabilities / contributions are ONE IEEE double op of
  exact integers or raw input doubles (bit-identical across engines);
- every reduction over those doubles goes through DECIMAL(28,14) partial
  sums (exact, associative, layout-independent);
- the only engine hash used in compared columns is the portable md5 form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# shared table loader (single source: one place to change if the
# path layout or a catalog integration ever changes)
from .relational import _t  # noqa: E402


# -------------------------------------------- sparse JL random projection
# Achlioptas-sparse projection matrix entries s(i, j) in {+1, 0, -1} with
# probabilities {1/6, 1/6, 2/3}, derived from the repo's portable 60-bit
# md5 hash of "jl|i|j" — the same cross-engine idiom minhash uses. A cheap
# LINEAR integer mix (a·i + b·j) mod 6 is NOT acceptable here: it is
# periodic in j with period 6/gcd(b,6), which silently duplicates output
# dimensions (measured: b = 40503 ≡ 3 mod 6 made j∈{0,2,4,6} bit-identical
# copies — a rank-2 "projection"). The hash makes matrix entries pairwise
# independent. Consumers rescale by sqrt(3 / D_PROJ) when they need
# expected-norm preservation; the raw integer-signed sum is kept here so
# the output stays DECIMAL-exact.
D_PROJ = 8
_JL_SALT = "jl|"


def _proj_sign_hash(i: F.Column, j: F.Column) -> F.Column:
    from .textops import _portable_hash

    h = _portable_hash(
        F.concat(
            F.lit(_JL_SALT),
            i.cast("string"),
            F.lit("|"),
            j.cast("string"),
        )
    )
    m = F.pmod(h, F.lit(6))
    return F.when(m == 0, F.lit(1)).when(m == 1, F.lit(-1)).otherwise(F.lit(0))


def jl_project_embeddings(spark, sf_dir):
    """Compress every embedding to D_PROJ dimensions with a sparse ±1
    Johnson-Lindenstrauss projection, emitted long-form as
    (vec_id, j, y) — the shape the ANN / k-means operators in plans/mlops
    already consume, so the compressed table composes with them directly.

    Scale shape: the sign matrix is a d_in × D_PROJ relation (KBs at any
    embedding width) derived from a 1-row max-width aggregate and
    broadcast; the exploded elements equi-join it on the input dim (a
    broadcast hash join — no shuffle on the big side), keeping only the
    ~1/3 non-zero entries, then ONE map-side-combinable groupBy on
    (vec_id, j) reduces the contributions. Nothing all-pairs; the shuffle
    carries at most N·d/3 rows of three scalar columns regardless of
    cluster size. Any engine rebuilds the matrix bit-identically from the
    hash — there is no stored/random state.
    Exactness: x is a raw input double, the sign is an exact small
    integer, and x·s is cast to DECIMAL(28,14) before summing, so y is
    bit-identical across engines and partition layouts."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.agg(F.max(F.size("embedding")).alias("d"))  # 1 row
    mat = (
        dims.select(F.explode(F.sequence(F.lit(0), F.col("d") - 1)).alias("i"))
        .select(
            "i",
            F.explode(F.sequence(F.lit(0), F.lit(D_PROJ - 1))).alias("j"),
        )
        .select(
            "i",
            F.col("j").cast("int").alias("j"),
            _proj_sign_hash(F.col("i"), F.col("j")).alias("s"),
        )
        .where(F.col("s") != 0)
    )
    ex = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    return (
        ex.join(F.broadcast(mat), "i")
        .select(
            "vec_id",
            "j",
            (F.col("x") * F.col("s")).cast("decimal(28,14)").alias("c"),
        )
        .groupBy("vec_id", "j")
        .agg(F.sum("c").alias("cdec"))
        .select("vec_id", "j", F.col("cdec").cast("double").alias("y"))
    )


def _jl_hash_sql(i_expr: str, j_expr: str) -> str:
    from .textops import PORTABLE_HASH_SQL

    return PORTABLE_HASH_SQL.format(
        x=f"CONCAT('{_JL_SALT}', {i_expr}, '|', {j_expr})"
    )


JL_PROJECT_SQL = f"""
WITH dims AS (SELECT MAX(len(embedding)) AS d FROM embeddings),
mat AS (
  SELECT i, CAST(j AS INT) AS j,
         CASE {_jl_hash_sql('i', 'j')} % 6
           WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS s
  FROM dims,
       UNNEST(generate_series(0, d - 1)) AS ti(i),
       UNNEST(generate_series(0, {D_PROJ - 1})) AS tj(j)
),
ex AS (
  SELECT vec_id, UNNEST(embedding)::DOUBLE AS x,
         UNNEST(generate_series(0, len(embedding) - 1)) AS i
  FROM embeddings
)
SELECT vec_id, j,
       CAST(SUM(CAST(x * s AS DECIMAL(28,14))) AS DOUBLE) AS y
FROM ex JOIN mat USING (i)
WHERE s <> 0
GROUP BY vec_id, j
"""


# ----------------------------------------- corpus-trained bigram LM score
def bigram_lm_score(spark, sf_dir):
    """Score every document by the mean add-one-smoothed bigram transition
    probability of its word sequence under a language model trained on the
    corpus itself — the CCNet-style quality signal that separates fluent
    text (common transitions) from gibberish / boilerplate (rare ones)
    without any external checkpoint. The rational form (mean probability,
    not mean log-probability) is deliberate: ln() is not bit-identical
    across libm implementations, while (cb+1)/(ctx+V) is ONE IEEE division
    of two exact BIGINTs.

    Model: P(b | a) = (count(a,b) + 1) / (count(a as context) + V), where
    the context count is the number of bigrams starting with `a` and V is
    the corpus vocabulary size.

    Scale shape: bigram extraction is map-only (indexed transform over the
    split array — the array is bound in its own projection, the O(words²)
    re-split trap from dup_span_fraction applies here too); the model is
    ONE corpus-scale groupBy on the bigram key, from which the context
    counts roll up vocabulary-scale (ctx(a) = Σ_b cb(a,b) — never a second
    corpus pass); V is a 1-row broadcast; scoring re-joins the document
    bigrams to the model on those same keys and rolls up on doc_id. Nothing is all-pairs and the
    model relations scale with vocabulary, not corpus size. Documents with
    fewer than two words have no transitions and are excluded (identical
    semantics in the oracle via the same inner join shape).
    Exactness: per-bigram p is one double division; the per-doc mean sums
    DECIMAL(28,14) partials before a final division by the exact count."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("ws"))
    # size >= 2 guard: Spark's sequence(1, 0) is a DESCENDING [1, 0] (the
    # dup_span_fraction edge), while DuckDB's generate_series(1, 0) is
    # empty — filter single-word docs out explicitly so both engines skip
    # them the same way (vocab below still sees their words).
    big = w.where(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " k -> struct(ws[k - 1] AS a, ws[k] AS b))"
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.a").alias("a"), F.col("t.b").alias("b"))
    cb = big.groupBy("a", "b").agg(F.count("*").alias("cb"))
    # ctx(a) = Σ_b cb(a,b): roll up the vocabulary-scale bigram counts
    # instead of re-aggregating the corpus-scale `big` relation (which
    # would re-run split + explode over every document a second time)
    ctx = cb.groupBy("a").agg(F.sum("cb").alias("ctx"))
    vocab = (
        w.select(F.explode("ws").alias("word"))
        .agg(F.countDistinct("word").alias("v"))
    )
    p = (
        big.join(cb, ["a", "b"])
        .join(ctx, "a")
        .crossJoin(F.broadcast(vocab))  # 1-row vocabulary-size relation
        .select(
            "doc_id",
            (
                (F.col("cb") + 1).cast("double")
                / (F.col("ctx") + F.col("v")).cast("double")
            ).alias("p"),
        )
    )
    return (
        p.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.col("p").cast("decimal(28,14)")).alias("psum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.col("psum").cast("double") / F.col("n_bigrams")).alias("lm_score"),
        )
    )


BIGRAM_LM_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
big AS (
  SELECT doc_id, ws[k] AS a, ws[k + 1] AS b
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(k)
),
cb AS (SELECT a, b, COUNT(*) AS cb FROM big GROUP BY a, b),
ctx AS (SELECT a, CAST(SUM(cb) AS BIGINT) AS ctx FROM cb GROUP BY a),
vocab AS (
  SELECT COUNT(DISTINCT word) AS v
  FROM (SELECT UNNEST(ws) AS word FROM w)
),
p AS (
  SELECT g.doc_id,
         CAST(cb.cb + 1 AS DOUBLE) / CAST(ctx.ctx + vocab.v AS DOUBLE) AS p
  FROM big g
  JOIN cb USING (a, b)
  JOIN ctx USING (a)
  CROSS JOIN vocab
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(p AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS lm_score
FROM p
GROUP BY doc_id
"""


# ------------------------------------------------- curriculum binning
def curriculum_bins(spark, sf_dir):
    """Curriculum assignment: quartile-bin every document by its
    corpus-trained LM score WITHIN its source — the ordering signal a
    quality-curriculum training schedule consumes (CCNet buckets its
    perplexity scores the same way, per language/shard). Composes the
    oracled [bigram_lm_score] relation; documents with no transitions
    (<2 words) have no score and are excluded, same inner-join shape both
    engines.

    Scale shape: binning is NTILE over a window PARTITIONED BY source —
    per-group rank arithmetic that distributes (no global sort, unlike a
    corpus-wide quantile; a skewed mega-source would call for the sketch
    thresholds in [approx_value_quantiles] instead — documented
    trade-off). Exactness: ntile is integer rank arithmetic over a total
    order (lm_score, doc_id) whose score component is already bit-exact
    cross-engine; ties cannot reorder because doc_id completes the key."""
    scores = bigram_lm_score(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("lm_score", "doc_id")
    return (
        scores.join(src, "doc_id")
        .select(
            "doc_id",
            "source",
            "lm_score",
            F.ntile(4).over(w).alias("bin"),
        )
    )


CURRICULUM_SQL = f"""
WITH scores AS ({BIGRAM_LM_SQL})
SELECT s.doc_id, d.source, s.lm_score,
       NTILE(4) OVER (PARTITION BY d.source ORDER BY s.lm_score, s.doc_id)
         AS bin
FROM scores s JOIN documents d USING (doc_id)
"""


# ------------------------------------------- sliding-window chunking
# Context-window chunking for RAG / LM pretraining prep: fixed W-token
# windows every S tokens (W - S tokens of overlap so no boundary-spanning
# phrase is lost to a hard cut). W/S are module constants, not config, so
# the oracle literals cannot drift from the Spark plan.
CHUNK_W = 64  # tokens per chunk (the retrieval-passage budget)
CHUNK_S = 48  # stride; 64 - 48 = 16 tokens of overlap between neighbors


def chunk_documents(spark, sf_dir):
    """Sliding-window document chunking — the passage-extraction step a RAG
    index or a fixed-context pretraining feed runs ahead of embedding /
    tokenization (the inverse reshape of [pack_sequences], which fuses short
    docs UP to a context budget; this splits long docs DOWN to one). Chunk
    k of a doc covers whitespace tokens [1 + k·S, 1 + k·S + W) (1-based).
    Grid starts run 1, 1+S, ... <= n, but a start > 1 is emitted only when
    its PREDECESSOR did not already reach the doc's end (n >= start + W − S)
    — otherwise the tail chunk is a pure suffix of the previous window and
    would only duplicate passages in the index. The two chunking invariants
    hold: every token lands in >= 1 chunk (a dropped start's tokens are, by
    the drop condition, inside the predecessor), and no chunk is fully
    contained in another; a short final chunk IS still emitted whenever it
    carries tokens the previous window missed.

    Scale shape: map-only — split once per doc (bound in its OWN projection;
    the O(words²) re-split trap documented at [bigram_lm_score] applies),
    then one generate+explode over the arithmetic start sequence, a per-row
    emit filter, and a slice/join — no shuffle, no window, whole-stage
    codegen throughout; fan-out is ~n_tokens/S rows per doc, each carrying
    only its own slice. Exactness: strings and integers only."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("ws"))
    s = w.select(
        "doc_id",
        "ws",
        F.posexplode(
            F.sequence(F.lit(1), F.size("ws"), F.lit(CHUNK_S))
        ).alias("chunk_idx", "start"),
    ).where(
        (F.col("start") == 1)
        | (F.size("ws") >= F.col("start") + F.lit(CHUNK_W - CHUNK_S))
    )
    chunk = F.slice("ws", F.col("start"), CHUNK_W)
    return s.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


# range(a, b, s) excludes b (so starts run 1, 1+S, ... <= len(ws));
# list_slice is 1-based end-INCLUSIVE (start .. start+W-1 = Spark's
# slice(ws, start, W)); // is integer division (plain / returns DOUBLE in
# DuckDB — the usual cross-engine trap). The WHERE mirrors the Spark-side
# contained-tail drop: emit a start > 1 only if the previous window did not
# already reach the doc's end.
CHUNK_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
s0 AS (
  SELECT doc_id, ws,
         UNNEST(range(1, len(ws) + 1, {CHUNK_S})) AS start
  FROM w
),
s AS (
  SELECT * FROM s0
  WHERE start = 1 OR len(ws) >= start + {CHUNK_W - CHUNK_S}
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_S} AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(ws, start, start + {CHUNK_W} - 1), ' ')
         AS chunk_text,
       CAST(len(list_slice(ws, start, start + {CHUNK_W} - 1)) AS BIGINT)
         AS n_tokens
FROM s
"""


# ------------------------------------------------- BPE tokenizer training
# Byte-pair-encoding merge learning (Sennrich et al. 2016) — the tokenizer-
# TRAINING step of an LM data pipeline, word-level as in the original BPE /
# SentencePiece's word-based mode: pair statistics are weighted by word
# frequency over the DISTINCT-word vocabulary, so after ONE corpus-scale
# counting pass every merge round runs on a Zipf-bounded vocab relation.
BPE_ROUNDS = 8

# Symbol-string representation invariant: one leading + one trailing space,
# exactly TWO spaces between adjacent symbols (' a  b  c '). Under it, the
# left-to-right non-overlapping semantics of plain string replace() —
# identical in Spark, DuckDB, and Python — implement the BPE merge exactly:
# pattern ' a  b ' consumes ONE space from each neighboring gap and the
# replacement ' ab ' restores both, so back-to-back occurrences
# (' c  a  b  a  b  c ') and self-adjacent runs (' a  a  a ' → ' aa  a ')
# merge left-to-right without lookaround (which DuckDB's RE2 lacks).


def _bpe_chain(spark, sf_dir, caches: list):
    """Shared BPE training chain (single source for bpe_merges and
    bpe_encode_tokens — the SQL twin is _bpe_chain_sql, shared the same
    way): one corpus-scale word-count pass, then BPE_ROUNDS vocabulary
    rounds, each counting adjacent symbol pairs (weighted by word
    frequency), picking the global argmax pair (ties: lexicographic min)
    as a 1-row TakeOrderedAndProject broadcast, and rewriting the vocab
    with the merged symbol. The vocab relation carries the WORD key
    through every round so the final vocabulary is usable as an encoder
    lookup (the column is never touched by the rewrite, so the emitted
    merge rounds are unaffected). Returns (rounds, vocab): `rounds` =
    per-round merge rows (round, sym_a, sym_b, merged, pair_count,
    n_distinct_pairs, total_pairs), `vocab` = final (word, rep, n). Round
    state is lineage-truncated via plans/iterstate.py."""
    from .iterstate import truncate_round

    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    chars = F.expr(
        "transform(sequence(1, length(word)), k -> substring(word, k, 1))"
    )
    vocab = truncate_round(
        wc.select(
            "word",
            F.concat(
                F.lit(" "), F.array_join(chars, "  "), F.lit(" ")
            ).alias("rep"),
            "n",
        ),
    )
    rounds = []
    for t in range(1, BPE_ROUNDS + 1):
        syms = vocab.select(
            F.split(F.trim("rep"), "  ").alias("syms"), "n"
        )
        pairs = (
            syms.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " k -> struct(syms[k - 1] AS a, syms[k] AS b))"
                    )
                ).alias("p"),
                "n",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        pairs = truncate_round(pairs)  # best + stats + merge consume it
        best = pairs.orderBy(
            F.desc("cnt"), F.asc("a"), F.asc("b")
        ).limit(1)
        stats = pairs.agg(
            F.count("*").alias("n_distinct_pairs"),
            F.sum("cnt").alias("total_pairs"),
        )
        rounds.append(
            best.crossJoin(F.broadcast(stats)).select(
                F.lit(t).alias("round"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").cast("long").alias("pair_count"),
                F.col("n_distinct_pairs").cast("long").alias(
                    "n_distinct_pairs"
                ),
                F.col("total_pairs").cast("long").alias("total_pairs"),
            )
        )
        vocab = truncate_round(
            vocab.crossJoin(F.broadcast(best)).select(
                "word",
                F.replace(
                    F.col("rep"),
                    F.concat(
                        F.lit(" "), F.col("a"), F.lit("  "), F.col("b"), F.lit(" ")
                    ),
                    F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")),
                ).alias("rep"),
                "n",
            ),
        )
    return rounds, vocab


def bpe_merges(spark, sf_dir):
    """Learn the first BPE_ROUNDS BPE merges from the corpus: each round
    counts adjacent symbol pairs (weighted by word frequency), picks the
    global argmax pair (ties: lexicographic min — deterministic, unlike
    dict-order implementations), and rewrites the vocabulary with the
    merged symbol. Emits the merge table — (round, sym_a, sym_b, merged,
    pair_count) plus that round's distinct-pair and total-pair mass so the
    oracle pins the whole pair distribution, not just the argmax.

    Scale shape: ONE corpus-scale pass (word counting); every round after
    runs on the distinct-word vocabulary (Zipf-bounded — orders of
    magnitude smaller than the corpus), with pair counting a combinable
    groupBy, the best pair a 1-row TakeOrderedAndProject broadcast (never
    a driver collect), and the merge a map-only replace(). Round state
    (the vocab relation) is lineage-truncated via plans/iterstate.py.
    Integers/strings only — no float discipline needed. The training chain
    itself is the shared _bpe_chain (bpe_encode_tokens replays the same
    one to ENCODE the corpus with the learned vocabulary)."""
    caches: list = []
    rounds, _vocab = _bpe_chain(spark, sf_dir, caches)
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    for df in caches:
        # round caches are superseded once the merge table is assembled;
        # the final unions read only the tiny per-round best/stats rows
        try:
            df.unpersist()
        except Exception:
            pass
    return out


def bpe_encode_tokens(spark, sf_dir):
    """ENCODE the corpus with the trained BPE vocabulary — the train→apply
    composition (the ann_ivf/kmeans wiring pattern): replay the shared
    _bpe_chain to its final word→subword vocabulary, then tokenize every
    document against it, emitting per-doc (n_words, n_bpe_tokens,
    tokens_per_word) — the sequence-length accounting a training pipeline
    runs before packing (plans/mlops.pack_sequences consumes exactly this
    kind of token count).

    Scale shape: the chain's rounds run on the Zipf-bounded vocabulary
    (see _bpe_chain); encoding is ONE equi-join of the exploded corpus
    words against that vocabulary (word-keyed — broadcastable when the
    vocab fits, shuffle-hash otherwise; Spark picks by size) plus ONE
    combinable per-doc aggregation. Token counts are exact integers
    (size of the double-space symbol split); tokens_per_word is the one
    final IEEE division of two exact integers."""
    caches: list = []
    _rounds, vocab = _bpe_chain(spark, sf_dir, caches)
    wtok = vocab.select(
        "word", F.size(F.split(F.trim("rep"), "  ")).alias("n_tok")
    )
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    agg = words.join(wtok, "word").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        (F.col("n_bpe_tokens").cast("double") / F.col("n_words")).alias(
            "tokens_per_word"
        ),
    )


def _bpe_chain_sql() -> str:
    """Shared WITH-chain twin of _bpe_chain (no final SELECT — _bpe_sql and
    _bpe_encode_sql both build on it, the same single-source discipline as
    the Spark side): the vocab CTEs carry the word key so the encoder can
    use bp_v{BPE_ROUNDS} as a lookup; the merge-table selects never read
    it."""
    # MATERIALIZED is load-bearing (as in kg_label_propagation_sql): each
    # round's pair CTE is referenced three times (best, stats, merge) and
    # each vocab CTE twice — plain CTEs would re-expand the chain
    # exponentially.
    sql = """
WITH bp_wc AS MATERIALIZED (
  SELECT w AS word, COUNT(*) AS n
  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w),
bp_v0 AS MATERIALIZED (
  SELECT word, ' ' || array_to_string(
           list_transform(range(1, length(word) + 1), k -> word[k]), '  ')
         || ' ' AS rep, n
  FROM bp_wc)"""
    for t in range(1, BPE_ROUNDS + 1):
        sql += f""",
bp_y{t} AS (SELECT string_split(trim(rep), '  ') AS syms, n FROM bp_v{t - 1}),
bp_p{t} AS MATERIALIZED (
  SELECT syms[k] AS a, syms[k + 1] AS b, SUM(n) AS cnt
  FROM bp_y{t}, UNNEST(generate_series(1, len(syms) - 1)) AS tt(k)
  GROUP BY 1, 2),
bp_b{t} AS MATERIALIZED (
  SELECT a, b, cnt FROM bp_p{t} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
bp_s{t} AS MATERIALIZED (
  SELECT COUNT(*) AS n_distinct_pairs, SUM(cnt) AS total_pairs FROM bp_p{t}),
bp_v{t} AS MATERIALIZED (
  SELECT word, replace(rep, ' ' || b.a || '  ' || b.b || ' ',
                 ' ' || b.a || b.b || ' ') AS rep, n
  FROM bp_v{t - 1} CROSS JOIN bp_b{t} b)"""
    return sql


def _bpe_sql() -> str:
    sql = _bpe_chain_sql()
    sql += "\n" + "\nUNION ALL\n".join(
        f"""SELECT {t} AS round, b.a AS sym_a, b.b AS sym_b,
       b.a || b.b AS merged, CAST(b.cnt AS BIGINT) AS pair_count,
       CAST(s.n_distinct_pairs AS BIGINT) AS n_distinct_pairs,
       CAST(s.total_pairs AS BIGINT) AS total_pairs
FROM bp_b{t} b CROSS JOIN bp_s{t} s"""
        for t in range(1, BPE_ROUNDS + 1)
    )
    return sql


BPE_SQL = _bpe_sql()


def _bpe_encode_sql() -> str:
    return (
        _bpe_chain_sql()
        + f""",
bp_tok AS MATERIALIZED (
  SELECT word, CAST(len(string_split(trim(rep), '  ')) AS BIGINT) AS n_tok
  FROM bp_v{BPE_ROUNDS}),
bp_dw AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(t.n_tok) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(t.n_tok) AS DOUBLE) / COUNT(*) AS tokens_per_word
FROM bp_dw d JOIN bp_tok t ON t.word = d.word
GROUP BY d.doc_id"""
    )


BPE_ENCODE_SQL = _bpe_encode_sql()


LMOPS_QUERIES: dict[str, tuple] = {
    # sweep-capped (registry._UNREGISTERED) but oracle-checked in pytest:
    "jl_project_embeddings": (jl_project_embeddings, JL_PROJECT_SQL),
    "bigram_lm_score": (bigram_lm_score, BIGRAM_LM_SQL),
    "curriculum_bins": (curriculum_bins, CURRICULUM_SQL),
    "chunk_documents": (chunk_documents, CHUNK_SQL),
    "bpe_merges": (bpe_merges, BPE_SQL),
    "bpe_encode_tokens": (bpe_encode_tokens, BPE_ENCODE_SQL),
}
