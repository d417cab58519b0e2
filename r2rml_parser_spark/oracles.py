"""DuckDB oracle SQL for the data-ops operators.

Each SQL string reproduces the matching Spark operator bit-for-bit on
the same parquet tables (md5-based hashing, identical fold formulas,
rounded doubles) so the driver's row-count + schema + value-hash
comparison passes. Kept next to each other so drift is reviewable.

``oracle_db`` and ``canonical_rows`` are the one comparison routine
shared by the pytest gate (tests/test_oracle_parity.py) and the full
sweep (scripts/exact_sweep.py).
"""

from __future__ import annotations

import math
import os

from r2rml_parser_spark.operators.dedup import N_BANDS, N_HASHES, SHINGLE_K
from r2rml_parser_spark.operators.mentions import ENTITY_DICT  # noqa: F401 (reused by callers)
from r2rml_parser_spark.operators.textstats import LANG_MARKERS, STOPWORDS

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKS = f"string_split({_NORM}, ' ')"

DEDUP_EXACT_SQL = f"""
SELECT md5({_NORM}) AS text_hash, min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
"""


def _shingle_cte() -> str:
    k = SHINGLE_K
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {k}
              THEN list_distinct(list_transform(
                     generate_series(1, len(t) - {k - 1}),
                     i -> array_to_string(t[i:i+{k - 1}], ' ')))
              ELSE [] END AS s
  FROM toks
)"""


def _sig_exprs() -> str:
    mins = ", ".join(
        f"list_aggregate(list_transform(s, x -> md5('{seed}|' || x)), 'min')"
        for seed in range(N_HASHES)
    )
    return f"[{mins}]"


def minhash_bands_sql() -> str:
    rows = N_HASHES // N_BANDS
    bands = []
    for b in range(N_BANDS):
        parts = " || ':' || ".join(f"sig[{b * rows + r + 1}]" for r in range(rows))
        bands.append(
            f"SELECT doc_id, {b} AS band, md5('{b}' || ':' || {parts}) AS band_key FROM sig_t"
        )
    union = "\nUNION ALL\n".join(bands)
    return f"""
WITH {_shingle_cte()},
sig_t AS (SELECT doc_id, {_sig_exprs()} AS sig FROM sh WHERE len(s) > 0)
{union}
"""


def neardup_pairs_sql(threshold: float = 0.8) -> str:
    return f"""
WITH bands AS ({minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.band = r.band
  WHERE l.doc_id < r.doc_id
),
{_shingle_cte()}
SELECT c.a, c.b,
       round(len(list_intersect(sa.s, sb.s)) /
             len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
WHERE round(len(list_intersect(sa.s, sb.s)) /
            len(list_distinct(list_concat(sa.s, sb.s))), 6) >= {threshold}
"""


def simhash_groups_sql() -> str:
    bit_terms = []
    for pos in range(16):
        votes = (
            f"list_aggregate(list_transform(dt, x -> CASE WHEN "
            f"ascii(substr(md5(x), {pos + 1}, 1)) >= ascii('8') THEN 1 ELSE -1 END), 'sum')"
        )
        bit_terms.append(f"(CASE WHEN {votes} >= 0 THEN {1 << pos} ELSE 0 END)")
    simhash = " + ".join(bit_terms)
    return f"""
WITH toks AS (SELECT doc_id, list_distinct({_TOKS}) AS dt FROM documents)
SELECT CAST({simhash} AS INT) AS simhash,
       count(*) AS n_docs, min(doc_id) AS min_doc
FROM toks GROUP BY 1
"""


def text_quality_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = "string_split(lower(trim(text)), ' ')"
    n_tokens = f"CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({toks}) END"
    n_stop = f"len(list_filter({toks}, x -> x IN ({stop_list})))"
    return f"""
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST({n_tokens} AS INT) AS n_tokens,
       CAST({n_stop} AS INT) AS n_stopwords,
       CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS INT) AS n_punct,
       CASE WHEN {n_tokens} > 0
            THEN round(length(regexp_replace(text, ' ', '', 'g')) / {n_tokens}, 6)
            ELSE 0.0 END AS mean_token_len,
       CASE WHEN {n_tokens} > 0 THEN round({n_stop} / {n_tokens}, 6)
            ELSE 0.0 END AS stopword_ratio
FROM documents
"""


def lang_id_sql() -> str:
    toks = "string_split(lower(trim(text)), ' ')"
    hit_cols = []
    for code, markers in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{m}'" for m in markers)
        hit_cols.append(f"len(list_filter({toks}, x -> x IN ({lst}))) AS h_{code}")
    codes_desc = [c for c, _ in sorted(LANG_MARKERS.items(), reverse=True)]
    best = "greatest(" + ", ".join(f"h_{c}" for c in codes_desc) + ")"
    guess = "CASE " + " ".join(
        f"WHEN h_{c} = {best} THEN '{c}'" for c in codes_desc
    ) + " END"
    return f"""
WITH h AS (SELECT doc_id, {", ".join(hit_cols)} FROM documents)
SELECT doc_id,
       CASE WHEN {best} > 0 THEN {guess} ELSE 'und' END AS lang_guess,
       CAST({best} AS INT) AS marker_hits
FROM h
"""


def token_counts_sql() -> str:
    return """
SELECT doc_id,
       CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE len(string_split(lower(trim(text)), ' ')) END AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
           AS n_pieces
FROM documents
"""


def fingerprints_sql() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_NORM} AS norm, {_TOKS} AS t FROM documents)
SELECT doc_id, md5(norm) AS content_md5,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(t, x -> CAST(ascii(x) + length(x) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
FROM toks
"""


def ann_cosine_topk_sql(k: int = 5, n_queries: int = 10) -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < {n_queries}),
c AS (SELECT vec_id AS corpus_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings),
s AS (SELECT query_id, corpus_id,
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)
                 AS score
      FROM q, c WHERE query_id <> corpus_id),
r AS (SELECT *, CAST(row_number() OVER
        (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS INT) AS rank
      FROM s)
SELECT query_id, corpus_id, score, rank FROM r WHERE rank <= {k}
"""


def embedding_neardup_sql(
    threshold: float = 0.8, hyperplane_bands: int = 4, band_bits: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of similarity.embedding_neardup with the SAME banded
    hyperplane-SimHash blocking: the ±1 planes are md5-derived constants
    (similarity.hyperplane_signs) and the sign sums are emitted in the
    identical left-associated order Spark folds them, so both engines
    compute bit-identical doubles and bucket identically — parity is
    exact even though the blocking is an approximation of all-pairs."""
    from r2rml_parser_spark.operators.similarity import hyperplane_signs

    signs = hyperplane_signs(hyperplane_bands * band_bits, dim)
    bit_exprs = []
    for k, row in enumerate(signs):
        terms = ""
        for j, s in enumerate(row):
            if not terms:
                terms = f"-v[{j + 1}]" if s < 0 else f"v[{j + 1}]"
            else:
                terms += f" - v[{j + 1}]" if s < 0 else f" + v[{j + 1}]"
        bit_exprs.append(
            f"CASE WHEN {terms} >= 0 THEN '1' ELSE '0' END AS bit_{k}"
        )
    bits_sql = ",\n         ".join(bit_exprs)
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT cell, id, {b} AS band, {sig} AS sig FROM sig".format(
            b=b,
            sig=" || ".join(f"bit_{b * band_bits + r}" for r in range(band_bits)),
        )
        for b in range(hyperplane_bands)
    )
    cos = (
        "round(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    return f"""
WITH e AS (SELECT label AS cell, vec_id AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
sig AS (SELECT cell, id,
         {bits_sql}
        FROM e),
bk AS (
{band_selects}
),
pairs AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM bk l JOIN bk r
    ON l.cell = r.cell AND l.band = r.band AND l.sig = r.sig AND l.id < r.id
)
SELECT p.a, p.b, {cos} AS score
FROM pairs p JOIN e ea ON ea.id = p.a JOIN e eb ON eb.id = p.b
WHERE {cos} >= {threshold}
"""


def ann_ivf_topk_sql(k: int = 5, nprobe: int = 2, n_queries: int = 10) -> str:
    """DuckDB twin of operators.similarity.ivf_topk: per-cell element-wise
    mean centroids, route each query to its nprobe nearest cells by
    (unrounded) cosine, brute-force cosine top-k inside probed cells.
    Centroid averages differ from Spark's only in fp summation order;
    emitted scores are rounded to 6 decimals like the exact-ANN oracle."""
    cos = "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    return f"""
WITH e AS (SELECT label AS cell, vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
cent AS (SELECT cell, i, avg(v[i]) AS m FROM e, dims GROUP BY cell, i),
cents AS (SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries}),
routed AS (SELECT query_id, qv, cell,
                  {cos.format(a='qv', b='centroid')} AS cscore
           FROM q, cents),
probes AS (SELECT query_id, qv, cell FROM (
             SELECT *, row_number() OVER
               (PARTITION BY query_id ORDER BY cscore DESC, cell) AS r
             FROM routed) WHERE r <= {nprobe}),
s AS (SELECT query_id, c.vec_id AS corpus_id,
             round({cos.format(a='p.qv', b='c.v')}, 6) AS score
      FROM probes p JOIN e c ON p.cell = c.cell
      WHERE p.query_id <> c.vec_id),
r AS (SELECT *, CAST(row_number() OVER
        (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS INT) AS rank
      FROM s)
SELECT query_id, corpus_id, score, rank FROM r WHERE rank <= {k}
"""


def connected_components_sql() -> str:
    """DuckDB twin of operators.components.connected_components over the
    MinHash-LSH candidate graph (the driver's connected_components
    query): recursive-CTE transitive closure + min-label per node.
    Tractable because LSH-blocked graphs are sparse (edges ≪ docs);
    the Spark operator's contract — every non-isolated node maps to the
    minimum node id of its component — is reproduced exactly."""
    return f"""
WITH RECURSIVE
bands AS (SELECT * FROM ({minhash_bands_sql()}) _b),
e AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.band = r.band
  WHERE l.doc_id < r.doc_id
),
e2 AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
reach(u, v) AS (
  SELECT u, v FROM e2
  UNION
  SELECT r.u, e2.v FROM reach r JOIN e2 ON r.v = e2.u
)
SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
"""


def gopher_rules_sql() -> str:
    """DuckDB twin of operators.textstats.gopher_rules."""
    toks = "string_split(lower(trim(text)), ' ')"
    n_tok = f"CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({toks}) END"
    n_uniq = f"CASE WHEN {n_tok} = 0 THEN 0 ELSE len(list_distinct({toks})) END"
    n_sym = r"len(regexp_extract_all(text, '[#…]|\.\.\.'))"
    lines = "string_split(text, chr(10))"
    n_lines = f"len({lines})"
    n_bullet = f"len(list_filter({lines}, ln -> regexp_matches(trim(ln), '^([-*•])')))"
    n_ellip = rf"len(list_filter({lines}, ln -> regexp_matches(trim(ln), '(\.\.\.|…)$')))"
    alpha = f"list_filter({toks}, t -> regexp_matches(t, '^[a-z]+$'))"
    n_alpha = f"len({alpha})"
    sum_alpha = f"list_aggregate(list_transform({alpha}, t -> length(t)), 'sum')"
    return f"""
SELECT doc_id,
  round(CASE WHEN {n_tok} > 0 THEN {n_uniq} / {n_tok} ELSE 0.0 END, 6) AS unique_token_ratio,
  round(CASE WHEN {n_tok} > 0 THEN {n_sym} / {n_tok} ELSE 0.0 END, 6) AS symbol_word_ratio,
  round(CASE WHEN {n_lines} > 0 THEN {n_bullet} / {n_lines} ELSE 0.0 END, 6) AS bullet_line_frac,
  round(CASE WHEN {n_lines} > 0 THEN {n_ellip} / {n_lines} ELSE 0.0 END, 6) AS ellipsis_line_frac,
  round(CASE WHEN {n_alpha} > 0 THEN CAST({sum_alpha} AS DOUBLE) / {n_alpha} ELSE 0.0 END, 6) AS mean_word_len
FROM documents
"""


def stratified_sample_sql(k: int = 20) -> str:
    """DuckDB twin of operators.sampling.stratified_sample over the
    documents table: row_number per lang in md5(doc_id) order (DuckDB
    md5 agrees with Spark's byte-for-byte on the same string)."""
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
         ) AS rn
  FROM documents
) WHERE rn <= {k}
"""


def proportional_sample_sql(fraction: float = 0.25) -> str:
    """DuckDB twin of operators.sampling.proportional_sample: the same
    15-hex-digit md5 prefix cut as a string comparison."""
    bound_hex = format(int(fraction * (1 << 60)), "015x")
    return f"""
SELECT doc_id FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) < '{bound_hex}'
"""


def pack_sequences_sql(budget: int = 5000) -> str:
    """DuckDB twin of operators.sampling.pack_sequences over the
    documents table with char-count tokens: same md5 bucket/order,
    same prefix-sum split, same ADAPTIVE bucket-prefix length (the
    integer ladder of sampling.bucket_hex_len_for, replayed as exact
    integer comparisons on the row count)."""
    from r2rml_parser_spark.operators.sampling import ROWS_PER_BUCKET

    ladder = " ".join(
        f"WHEN c <= {ROWS_PER_BUCKET * 16 ** ln} THEN {ln}" for ln in range(1, 8)
    )
    return f"""
WITH params AS (
  SELECT CASE {ladder} ELSE 8 END AS hexlen
  FROM (SELECT count(*) AS c FROM documents)
), t AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_tokens,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, (SELECT hexlen FROM params)) AS bucket
  FROM documents
), w AS (
  SELECT doc_id, n_tokens, bucket,
         sum(n_tokens) OVER (
           PARTITION BY bucket
           ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM t
)
SELECT doc_id, n_tokens, bucket,
       CAST(floor((cum - n_tokens) / {budget}) AS BIGINT) AS seq_id,
       CAST(cum - n_tokens AS BIGINT) AS seq_tokens_before
FROM w
"""


def decontamination_sql(n: int = 8, cut_hex: str = "08") -> str:
    """DuckDB twin of operators.decontaminate.contaminated_ids, with the
    benchmark defined as the md5-prefix-cut subset of documents (first
    two hex chars of md5(doc_id) < ``cut_hex`` — the engine-reproducible
    stand-in for an external eval set): per-doc count of distinct word
    ``n``-grams shared with any benchmark doc."""
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {n}
              THEN list_distinct(list_transform(
                     generate_series(1, len(t) - {n - 1}),
                     i -> array_to_string(t[i:i+{n - 1}], ' ')))
              ELSE [] END AS s
  FROM toks
),
exploded AS (SELECT doc_id, unnest(s) AS g FROM grams),
bgrams AS (
  SELECT DISTINCT md5(g) AS gram_hash FROM exploded
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{cut_hex}'
),
dgrams AS (SELECT doc_id, md5(g) AS gram_hash FROM exploded)
SELECT doc_id, count(*) AS n_hit_grams
FROM dgrams JOIN bgrams USING (gram_hash)
GROUP BY doc_id
"""


def strip_boilerplate_sql(min_docs: int = 3) -> str:
    """DuckDB twin of operators.boilerplate.strip_boilerplate over the
    span view: text spans whose normalized content recurs in >=
    ``min_docs`` distinct docs are removed; media spans pass through."""
    from r2rml_parser_spark.sources.docs import SPAN_VIEW_ORACLE_SQL

    return f"""
WITH sv AS ({SPAN_VIEW_ORACLE_SQL}),
hot AS (
  SELECT md5({_NORM}) AS h FROM sv WHERE kind = 'text'
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {min_docs}
)
SELECT doc_id, CAST("offset" AS INT) AS span_offset, kind,
       md5(coalesce(text, media_ref)) AS content_md5
FROM sv
WHERE kind <> 'text' OR md5({_NORM}) NOT IN (SELECT h FROM hot)
"""


def repetition_signals_sql(n: int = 2) -> str:
    """DuckDB twin of operators.textstats.repetition_signals: per-doc
    duplicate/top word-n-gram fractions, same tokenization as
    textstats._tokens (plain split, not the dedup `_NORM` collapse),
    same round(6), docs with < n tokens dropped on both sides."""
    toks = "string_split(lower(trim(text)), ' ')"
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(t) - {n} + 1),
                        i -> array_to_string(t[i:i+{n}-1], ' ')) AS grams
  FROM toks WHERE len(t) >= {n}
),
x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM x GROUP BY 1, 2),
s AS (SELECT doc_id, sum(cnt) AS n_grams, count(*) AS n_distinct, max(cnt) AS top
      FROM c GROUP BY 1)
SELECT doc_id,
       round(CAST(n_grams - n_distinct AS DOUBLE) / n_grams, 6) AS dup_gram_frac,
       round(CAST(top AS DOUBLE) / n_grams, 6) AS top_gram_frac
FROM s
"""


#: parquet tables the oracle SQL reads, as DuckDB views of the same name
ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def oracle_db(sf_dir: str):
    """DuckDB connection with a view per ``ORACLE_TABLES`` parquet file
    present under ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(v):
    """EXACT canonicalization — no rounding.

    r4 post-mortem (VERDICT "What's wrong" #4): an earlier ``round(v,
    9)`` was looser than a value hash over pandas-materialized results,
    so five dtype/rounding divergences passed an "82/82 green" sweep.
    In such a hash representation matters: int64 != float64, Decimal
    != float, scale-12 Decimal != scale-0 Decimal. Keying on (type,
    exact repr) fails exactly where that hash does."""
    if v is None:
        return "\x00<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("float", repr(v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (str, bytes)):
        return v
    return (type(v).__name__, str(v))


def canonical_rows(cols, data) -> list[tuple]:
    """Rows with columns in name order and values canonicalized, sorted —
    equal lists mean an exact, order-insensitive match."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # key=repr: canon values are heterogeneous (str / tuple / int), which
    # Python won't order directly in a NULL-and-number column.
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in data), key=repr
    )
