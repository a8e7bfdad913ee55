"""DuckDB oracle SQL for every query in ``queries.py``.

Each SQL string is generated from the SAME constants (templates, label
sets, hash coefficients) the Spark queries use, so the two sides cannot
drift apart. Tables are pre-registered views (driver contract):
region nation customer supplier part orders lineitem events documents
embeddings.
"""

from __future__ import annotations

from genai_batch_processor_spark.functions import text as tx
from genai_batch_processor_spark.functions import vectors as vec
from genai_batch_processor_spark.functions.hashing import sql_hash32, sql_hash60
from genai_batch_processor_spark.inference import mock
from genai_batch_processor_spark.operators import dedup, requests, similarity

LABELS = mock.DEFAULT_LABELS

# Shared fragments ------------------------------------------------------------

IDX = "(row_number() OVER (ORDER BY doc_id) - 1)"
CUSTOM_ID = "('request-' || idx)"


def _prompt_sql(text_expr: str = "text") -> str:
    head, tail = requests.CLASSIFY_TEMPLATE.split("%s", 1)
    mid, end = tail.split("%s", 1)
    labels = ", ".join(LABELS)
    # template: "...from [%s]. Reply... Text: %s"
    return f"('{head}{labels}{mid}' || {text_expr} || '{end}')"


def _label_sql(prompt_expr: str) -> str:
    return mock.sql_label(prompt_expr, LABELS)


def _is_error_sql(cid_expr: str) -> str:
    return mock.sql_is_error(cid_expr)


_DOCS_BASE = f"""
WITH base AS (
  SELECT doc_id, text, lang, {IDX} AS idx FROM documents
), keyed AS (
  SELECT *, {CUSTOM_ID} AS custom_id, {_prompt_sql('text')} AS prompt
  FROM base
), responded AS (
  SELECT *,
         {_is_error_sql('custom_id')} AS is_error,
         {_label_sql('prompt')} AS label
  FROM keyed
)
"""

ORACLES: dict[str, str] = {
    "assign_ids": f"""
        WITH base AS (
          SELECT doc_id, {IDX} AS idx FROM documents
        )
        SELECT doc_id, CAST(idx AS BIGINT) AS idx, {CUSTOM_ID} AS custom_id
        FROM base
    """,
    "build_requests": f"""
        WITH base AS (
          SELECT doc_id, text, {IDX} AS idx FROM documents
        )
        SELECT doc_id,
               {CUSTOM_ID} AS custom_id,
               'POST' AS method,
               '{requests.CHAT_COMPLETIONS_URL}' AS url,
               '{requests.DEFAULT_MODEL}' AS model,
               10 AS max_tokens,
               CAST(0.0 AS DOUBLE) AS temperature,
               'json_object' AS response_format,
               1 AS n_messages,
               {_prompt_sql('text')} AS prompt
        FROM base
    """,
    "azure_model_rewrite": """
        SELECT doc_id, 'my-deploy' AS model FROM documents
    """,
    "mock_responses": _DOCS_BASE + """
        SELECT custom_id,
               CASE WHEN is_error THEN 'error' ELSE 'ok' END AS status,
               CASE WHEN is_error THEN NULL
                    ELSE '{"answer": "' || label || '"}' END AS content
        FROM responded
    """,
    "extract_answer": _DOCS_BASE + """
        SELECT doc_id,
               CASE WHEN is_error THEN NULL ELSE label END AS answer
        FROM responded
    """,
    "error_split": _DOCS_BASE + """
        SELECT relation, CAST(count(*) AS BIGINT) AS n
        FROM (
          SELECT CASE WHEN is_error THEN 'errors' ELSE 'results' END AS relation
          FROM responded
        )
        GROUP BY relation
        ORDER BY relation
    """,
    "joinback": _DOCS_BASE + """
        SELECT doc_id, lang,
               CASE WHEN is_error THEN 'error' ELSE 'ok' END AS status,
               CASE WHEN is_error THEN NULL ELSE label END AS answer
        FROM responded
    """,
    "label_distribution": _DOCS_BASE + """
        SELECT lang, label AS answer, CAST(count(*) AS BIGINT) AS n
        FROM responded
        WHERE NOT is_error
        GROUP BY lang, label
    """,
    "vertex_requests": """
        SELECT doc_id,
               'user' AS role,
               text AS text_part,
               50 AS max_output_tokens,
               CAST(0.0 AS DOUBLE) AS temperature
        FROM documents
    """,
    "question_preview": r"""
        SELECT doc_id,
               trim(regexp_extract(
                 'Answer the exam.' || chr(10) || 'Question: ' ||
                 substr(text, 1, 40) || chr(10) || 'Options: 1,2,3,4',
                 'Question:\s*([^\n]*)', 1)) AS question
        FROM documents
    """,
}

# -- north-star: dedup --------------------------------------------------------

_ANN_N_QUERIES = 8  # keep in sync with queries.ANN_N_QUERIES

_MINHASH_BASE = f"""
WITH sh AS (
  SELECT doc_id, {dedup.sql_shingle_hashes('text')} AS hs FROM documents
), sig AS (
  SELECT doc_id, {dedup.sql_minhash_signature('hs')} AS sig FROM sh
), bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {j} AS band, {dedup.sql_band_key('sig', j)} AS key FROM sig"
      for j in range(dedup.LSH_BANDS)
  )}
), small AS (
  SELECT * FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, key) <= {dedup.MAX_BUCKET}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM small a JOIN small b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
"""

# Width-adaptive (r8 verdict item 1): features and signature branch on
# the corpus count exactly like the Spark side's adaptive_simhash_width
# — narrow (32/4, the recorded scheme) at every fixture scale, wide
# (56-bit / 4 bands of 14-bit nibbles) past SIMHASH_WIDEN_DOCS.
_SIMHASH_BASE = f"""
WITH h AS (
  SELECT doc_id, {dedup.sql_adaptive_word_hashes('text')} AS hs
  FROM documents
), s AS (
  SELECT doc_id, {dedup.sql_adaptive_simhash_from_hashes('hs')} AS sh
  FROM h
)
"""

ORACLES["exact_dedup"] = f"""
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
    )
    SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
    FROM unioned
    GROUP BY {sql_hash60('text')}
"""

ORACLES["minhash_signatures"] = f"""
    WITH sh AS (
      SELECT doc_id, {dedup.sql_shingle_hashes('text')} AS hs FROM documents
    )
    SELECT doc_id,
           array_to_string({dedup.sql_minhash_signature('hs')}, '-') AS signature
    FROM sh
"""

ORACLES["lsh_candidates"] = _MINHASH_BASE + """
    SELECT id_a, id_b FROM cand
"""

ORACLES["near_dup_pairs"] = _MINHASH_BASE + f"""
    , scored AS (
      SELECT c.id_a, c.id_b,
             round(len(list_intersect(x.hs, y.hs))::DOUBLE
                   / len(list_distinct(x.hs || y.hs)), 6) AS jaccard
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored
    WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
"""

# Transitive closure of the verified near-dup pair graph: component id =
# min reachable doc id. `WITH` becomes `WITH RECURSIVE` so the reach CTE
# may self-reference; the pair CTEs are identical to near_dup_pairs.
_COMPONENTS_BASE = (
    _MINHASH_BASE.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + f"""
    , verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
      WHERE round(len(list_intersect(x.hs, y.hs))::DOUBLE
                  / len(list_distinct(x.hs || y.hs)), 6)
            >= {dedup.JACCARD_THRESHOLD}
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b AS u, id_a AS v FROM verified
    ), reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    ), comp AS (
      SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u
    )
"""
)

ORACLES["dedup_components"] = _COMPONENTS_BASE + """
    SELECT doc_id, component_id FROM comp
"""

ORACLES["dedup_survivors"] = _COMPONENTS_BASE + """
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT doc_id FROM comp WHERE doc_id <> component_id
    )
"""

ORACLES["simhash"] = _SIMHASH_BASE + """
    SELECT doc_id, sh AS simhash FROM s
"""

ORACLES["simhash_near_dup"] = _SIMHASH_BASE + f"""
    , bands AS (
      {dedup.sql_adaptive_simhash_bands("s", "sh")}
    ), ok AS (
      -- mirror of the Spark-side skew guard: oversize nibble buckets
      -- are dropped, not joined; the cap is the SAME corpus-derived
      -- value the Spark side computes (dedup.adaptive_max_bucket), so
      -- parity is data-dependent, not fixture-lucky
      SELECT band, nib FROM bands GROUP BY band, nib
      HAVING count(*) BETWEEN 2 AND {dedup.sql_adaptive_max_bucket("documents")}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM bands a
      JOIN ok o ON a.band = o.band AND a.nib = o.nib
      JOIN bands b
        ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs
    WHERE hamming <= {dedup.SIMHASH_MAX_HAMMING}
"""

from genai_batch_processor_spark import queries as _qinc

ORACLES["vocab_oov_rate"] = f"""
    WITH terms AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), filtered AS (
      SELECT doc_id, term FROM terms
      WHERE regexp_matches(term, '^[a-z]+$')
    ), vocab AS (
      SELECT term FROM filtered GROUP BY term
      ORDER BY count(*) DESC, term ASC LIMIT {_qinc.VOCAB_TOP_K}
    )
    SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(count(*) FILTER (WHERE v.term IS NULL) AS BIGINT)
             AS n_oov,
           CAST(count(*) FILTER (WHERE v.term IS NULL) * 1000000
                // count(*) AS BIGINT) AS oov_ppm
    FROM filtered f LEFT JOIN vocab v ON f.term = v.term
    GROUP BY f.doc_id
"""

ORACLES["dedup_cluster_stats"] = _COMPONENTS_BASE + """
    , sizes AS (
      SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component_id
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY cluster_size
"""

# Incremental near-dup: from-scratch MinHash over (corpus ∪ re-keyed
# new batch), restricted to pairs with a new side (id_b lands in the
# offset id space for any such pair since id_a < id_b) — the relation
# the index-probe path must reproduce exactly.
ORACLES["incremental_near_dup"] = (
    f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_qinc.INC_DEDUP_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 10 = 3
)"""
    + _MINHASH_BASE.replace("WITH sh AS", ", sh AS", 1).replace(
        "FROM documents", "FROM unioned"
    )
    + f"""
    , scored AS (
      SELECT c.id_a, c.id_b,
             round(len(list_intersect(x.hs, y.hs))::DOUBLE
                   / len(list_distinct(x.hs || y.hs)), 6) AS jaccard
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored
    WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
      AND id_b >= {_qinc.INC_DEDUP_OFFSET}
"""
)

# The streamed probe must reproduce the one-shot probe exactly.
ORACLES["incremental_near_dup_stream"] = ORACLES["incremental_near_dup"]

from genai_batch_processor_spark.functions import text as _tx2

ORACLES["length_buckets"] = f"""
    WITH sized AS (
      SELECT {_tx2.sql_token_count('text')} AS t FROM documents
    ), th AS (
      SELECT quantile_cont(t, 0.25) AS q1,
             quantile_cont(t, 0.50) AS q2,
             quantile_cont(t, 0.75) AS q3
      FROM sized
    ), bucketed AS (
      SELECT t,
             CAST(CASE WHEN t <= q1 THEN 0
                       WHEN t <= q2 THEN 1
                       WHEN t <= q3 THEN 2
                       ELSE 3 END AS INT) AS bucket
      FROM sized CROSS JOIN th
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(t) AS BIGINT) AS max_tokens,
           CAST(max(t) * count(*) - sum(t) AS BIGINT) AS padding_tokens
    FROM bucketed GROUP BY bucket
"""

# Dedup-method audit: SimHash pairs graded against the Jaccard-verified
# MinHash pair set. Splices the two base CTE chains (the SimHash CTEs
# ride in with distinct names) and compares with integer-division
# ratios — engine-exact, no float crosses the boundary.
ORACLES["near_dup_method_agreement"] = (
    _MINHASH_BASE
    + f"""
    , truth AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
      WHERE round(len(list_intersect(x.hs, y.hs))::DOUBLE
                  / len(list_distinct(x.hs || y.hs)), 6)
            >= {dedup.JACCARD_THRESHOLD}
    ), wh AS (
      SELECT doc_id, {dedup.sql_adaptive_word_hashes('text')} AS whs
      FROM documents
    ), sims AS (
      SELECT doc_id, {dedup.sql_adaptive_simhash_from_hashes('whs')} AS sh2
      FROM wh
    ), sbands AS (
      {dedup.sql_adaptive_simhash_bands("sims", "sh2")}
    ), sok AS (
      SELECT band, nib FROM sbands GROUP BY band, nib
      HAVING count(*) BETWEEN 2 AND {dedup.sql_adaptive_max_bucket("documents")}
    ), sim AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sbands a
      JOIN sok o ON a.band = o.band AND a.nib = o.nib
      JOIN sbands b
        ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh2, b.sh2)) <= {dedup.SIMHASH_MAX_HAMMING}
    ), nt AS (SELECT count(*) AS n_truth FROM truth
    ), ns AS (SELECT count(*) AS n_simhash FROM sim
    ), nb AS (
      SELECT count(*) AS n_both
      FROM truth t JOIN sim s ON t.id_a = s.id_a AND t.id_b = s.id_b
    )
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_simhash AS BIGINT) AS n_simhash,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(CASE WHEN n_simhash > 0
                     THEN n_both * 1000 // n_simhash END AS BIGINT)
             AS precision_milli,
           CAST(CASE WHEN n_truth > 0
                     THEN n_both * 1000 // n_truth END AS BIGINT)
             AS recall_milli
    FROM nt, ns, nb
"""
)

from genai_batch_processor_spark.operators import linkage as _linkage

ORACLES["part_match_candidates"] = _linkage.sql_blocked_pairs(
    "part",
    "p_partkey",
    "p_name",
    {"p_brand": "p_brand", "noun": "string_split(p_name, ' ')[-1]"},
)

# Multi-pass length-band blocking (round-6 verdict item 4): band exprs
# interpolated from the query module's constants so a one-sided width/
# shift edit fails the parity gate, not a production run.
from genai_batch_processor_spark import queries as _qlk

_PART_PASSES_SQL = [
    {
        "p_brand": "p_brand",
        "noun": "string_split(p_name, ' ')[-1]",
        "band_a": f"length(p_name) // {_qlk._PART_BAND_W}",
    },
    {
        "p_brand": "p_brand",
        "noun": "string_split(p_name, ' ')[-1]",
        "band_b": (
            f"(length(p_name) + {_qlk._PART_BAND_SHIFT}) "
            f"// {_qlk._PART_BAND_W}"
        ),
    },
]
ORACLES["part_match_multikey"] = _linkage.sql_multi_pass_pairs(
    "part", "p_partkey", "p_name", _PART_PASSES_SQL
)
ORACLES["part_match_blocking_recall"] = f"""
    WITH s AS ({ORACLES["part_match_candidates"]}),
    m AS ({ORACLES["part_match_multikey"]}),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n_single FROM s),
    nm AS (SELECT CAST(count(*) AS BIGINT) AS n_multi FROM m),
    nc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common
      FROM s JOIN m USING (a_key, b_key)
    )
    SELECT n_single, n_multi, n_common,
           n_multi - n_common AS multi_only,
           CAST(CASE WHEN n_single > 0
                     THEN n_common * 1000 // n_single END AS BIGINT)
             AS recall_milli
    FROM ns, nm, nc
"""

from genai_batch_processor_spark.operators import sampling as _smp2
from genai_batch_processor_spark import queries as _q2

# exponent/scale interpolated from the query's own constants so a
# one-sided tuning edit fails loudly at review, not as a spurious
# engine mismatch in the parity gate.
ORACLES["temperature_mixture"] = f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), powed AS (
      SELECT source, n_docs,
             CAST(round(power(n_docs::DOUBLE, {1.0 / _q2.TEMP_MIX_T!r})
                  * {_smp2.TEMP_SCALE}) AS BIGINT) AS w_scaled
      FROM counts
    ), total AS (
      SELECT sum(w_scaled) AS w_total FROM powed
    )
    SELECT source, n_docs,
           CAST(w_scaled * 1000000 // w_total AS BIGINT) AS weight_ppm
    FROM powed CROSS JOIN total
"""

ORACLES["event_key_skew"] = """
    WITH counts AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), stats AS (
      SELECT CAST(sum(n) AS BIGINT) AS total_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(n) AS BIGINT) AS max_n,
             round(quantile_cont(n, 0.99), 6) AS p99_n
      FROM counts
    ), top AS (
      SELECT user_id, n FROM counts
      ORDER BY n DESC, user_id ASC LIMIT 10
    )
    SELECT user_id, n,
           CAST(n * 1000000 // total_rows AS BIGINT) AS share_ppm,
           n_keys, total_rows, max_n, p99_n
    FROM top CROSS JOIN stats
"""

# BM25: association order mirrors the Spark expression exactly (left-
# assoc chains), so both engines round identical doubles to milli ints.
ORACLES["bm25_scores"] = """
    WITH terms AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM terms
      WHERE regexp_matches(term, '^[a-z]+$')
      GROUP BY doc_id, dl, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), qterms AS (
      SELECT term, df FROM dfreq WHERE strlen(term) >= 4
      ORDER BY df DESC, term ASC LIMIT 5
    ), stats AS (
      SELECT count(*) AS nd,
             sum(len(string_split(text, ' '))) AS total_dl
      FROM documents
    ), scored AS (
      SELECT t.doc_id,
             CAST(round(
               ln((nd - df + 0.5) / (df + 0.5) + 1.0)
               * t.tf * 2.2
               / (t.tf + 1.2 * (0.25 + 0.75 * t.dl * nd / total_dl))
               * 1000
             ) AS BIGINT) AS s
      FROM tf t JOIN qterms USING (term) CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(s) AS BIGINT) AS bm25_milli
    FROM scored GROUP BY doc_id
"""

# -- north-star: similarity search -------------------------------------------

ORACLES["embedding_topk"] = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {_ANN_N_QUERIES}
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {vec.sql_cosine('q.qv', 'c.embedding')} AS cos
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INT) AS "rank",
           round(cos, 6) AS cosine
    FROM scored
    QUALIFY "rank" <= 5
"""

ORACLES["embedding_topk_lsh"] = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {vec.sql_sign_bits_bucket('embedding')} AS bucket
      FROM embeddings WHERE vec_id < {_ANN_N_QUERIES}
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {vec.sql_cosine('q.qv', 'c.embedding')} AS cos
      FROM (
        SELECT vec_id, embedding,
               {vec.sql_sign_bits_bucket('embedding')} AS bucket
        FROM embeddings
      ) c JOIN q ON c.bucket = q.bucket
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INT) AS "rank",
           round(cos, 6) AS cosine
    FROM scored
    QUALIFY "rank" <= 5
"""

ORACLES["embedding_near_dup"] = f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {vec.sql_sign_bits_bucket('embedding')} AS bucket
      FROM embeddings
    ), ok AS (
      -- mirror of the Spark-side MAX_CELL skew guard
      SELECT bucket FROM b GROUP BY bucket
      HAVING count(*) BETWEEN 2 AND {similarity.MAX_CELL}
    ), scored AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             round({vec.sql_cosine('x.embedding', 'y.embedding')}, 6) AS cosine
      FROM b x
      JOIN ok o ON x.bucket = o.bucket
      JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.35
"""

# -- north-star: text analysis ------------------------------------------------

ORACLES["doc_stats"] = f"""
    SELECT doc_id,
           {tx.sql_word_count('text')} AS n_words,
           {tx.sql_token_count('text')} AS n_tokens,
           round({tx.sql_mean_word_length('text')}, 6) AS mean_word_len,
           {tx.sql_quality_score('text')} AS quality,
           {tx.sql_lang_guess('text')} AS lang_guess,
           {tx.sql_fingerprint('text')} AS fingerprint
    FROM documents
"""

ORACLES["lang_id_confusion"] = f"""
    SELECT lang, {tx.sql_lang_guess('text')} AS guessed,
           CAST(count(*) AS BIGINT) AS n
    FROM documents
    GROUP BY lang, guessed
"""

ORACLES["term_frequencies"] = """
    SELECT term, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
    )
    WHERE regexp_matches(term, '^[a-z]+$')
    GROUP BY term
    ORDER BY n DESC, term ASC
    LIMIT 100
"""

ORACLES["source_quality"] = f"""
    WITH q AS (
      SELECT source,
             CAST(round({tx.sql_quality_score('text')} * 1000000, 0) AS BIGINT) AS q6,
             {tx.sql_token_count('text')} AS tok
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           (CAST(sum(q6) AS DOUBLE) / (count(*) * 1000000.0)) AS avg_quality
    FROM q
    GROUP BY source
"""

# -- north-star: multimodal ---------------------------------------------------

ORACLES["multimodal_requests"] = """
    SELECT doc_id,
           2 AS n_parts,
           'text' AS part0_type,
           'image_url' AS part1_type,
           ('data:image/png;base64,' || to_base64(encode(substr(text, 1, 24))))
             AS image_uri,
           10 AS max_completion_tokens,
           CAST(NULL AS DOUBLE) AS temperature
    FROM documents
"""

# -- events -------------------------------------------------------------------

ORACLES["tfidf_top_terms"] = """
    WITH terms AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms
      WHERE regexp_matches(term, '^[a-z]+$')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), total AS (
      SELECT count(*) AS nd FROM documents
    ), scored AS (
      SELECT t.doc_id, t.term,
             round(t.tf * ln(total.nd::DOUBLE / d.df), 6) AS tfidf
      FROM tf t JOIN dfreq d ON t.term = d.term CROSS JOIN total
    )
    SELECT doc_id, term,
           CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
           ) AS INT) AS rnk,
           tfidf
    FROM scored
    QUALIFY rnk <= 3
"""

def _pivot_cols() -> str:
    from genai_batch_processor_spark import queries as _q

    return ",\n           ".join(
        f"CAST(count(*) FILTER (WHERE lang = '{lang}') AS BIGINT) AS {lang}"
        for lang in _q.PIVOT_LANGS
    )


ORACLES["source_lang_pivot"] = f"""
    SELECT source,
           {_pivot_cols()}
    FROM documents
    GROUP BY source
"""

ORACLES["doc_attr_map"] = """
    SELECT 'lang' AS key, lang AS value, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'source' AS key, source AS value, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY source
"""

ORACLES["above_avg_balance"] = """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_above_avg,
           CAST(max(c.c_acctbal) AS DOUBLE) AS max_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (
      SELECT CAST(avg(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
      FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    GROUP BY n.n_name
"""

ORACLES["user_funnel"] = """
    WITH v AS (
      SELECT user_id, min(ts) AS fv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS fc
      FROM events e JOIN v ON e.user_id = v.user_id
        AND e.ts >= v.fv AND e.ts <= v.fv + INTERVAL 1 DAY
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS fp
      FROM events e JOIN c ON e.user_id = c.user_id
        AND e.ts >= c.fc AND e.ts <= c.fc + INTERVAL 1 DAY
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after_view,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after_click
"""

ORACLES["events_hourly"] = """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""

ORACLES["user_sessions"] = """
    WITH gapped AS (
      SELECT user_id, event_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
      FROM gapped
    ), sessioned AS (
      SELECT user_id,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS sess_id
      FROM flagged
    ), per_sess AS (
      SELECT user_id, sess_id, count(*) AS n_events
      FROM sessioned GROUP BY user_id, sess_id
    )
    SELECT user_id,
           CAST(max(sess_id) AS BIGINT) AS n_sessions,
           CAST(max(n_events) AS BIGINT) AS max_session_events
    FROM per_sess
    GROUP BY user_id
"""

ORACLES["events_json_props"] = """
    WITH k AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k,
           max(k) AS max_k
    FROM k
    GROUP BY event_type
"""

# -- relational coverage ------------------------------------------------------

ORACLES["pricing_summary"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4))
                       - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""

ORACLES["regional_revenue"] = """
    SELECT r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
"""

ORACLES["top_customers_per_nation"] = """
    WITH spend AS (
      SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_dec
      FROM orders GROUP BY o_custkey
    ), joined AS (
      SELECT n.n_name, c.c_custkey, CAST(s.spend_dec AS DOUBLE) AS spend
      FROM customer c
      JOIN spend s ON c.c_custkey = s.o_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT n_name AS nation, c_custkey,
           CAST(row_number() OVER (
             PARTITION BY n_name ORDER BY spend DESC, c_custkey ASC
           ) AS INT) AS rnk,
           spend
    FROM joined
    QUALIFY rnk <= 3
"""

ORACLES["customer_order_setops"] = """
    WITH o_cust AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    ), f_cust AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    ), tagged AS (
      SELECT custkey, 'both' AS set_op FROM (
        SELECT custkey FROM o_cust INTERSECT SELECT custkey FROM f_cust
      )
      UNION ALL
      SELECT custkey, 'only_open' FROM (
        SELECT custkey FROM o_cust EXCEPT SELECT custkey FROM f_cust
      )
      UNION ALL
      SELECT custkey, 'only_finished' FROM (
        SELECT custkey FROM f_cust EXCEPT SELECT custkey FROM o_cust
      )
    )
    SELECT set_op, CAST(count(*) AS BIGINT) AS n_customers
    FROM tagged
    GROUP BY set_op
"""

# -- IVF / as-of / vertex / rollup -------------------------------------------

_IVF_CELLS = 16
_IVF_PROBES = 4
_COS_CQ = vec.sql_cosine("c.cv", "q.embedding")
_COS_CE = vec.sql_cosine("c.cv", "e.embedding")

ORACLES["embedding_topk_ivf"] = f"""
    WITH cent AS (
      SELECT vec_id AS cell, embedding AS cv FROM embeddings
      WHERE vec_id < {_IVF_CELLS}
    ), assigned AS (
      SELECT e.vec_id AS neighbor_id, e.embedding AS nvec,
             (SELECT c.cell FROM cent c
              ORDER BY {_COS_CE} DESC, c.cell LIMIT 1) AS cell
      FROM embeddings e
    ), probed AS (
      SELECT q.vec_id AS query_id, q.embedding AS qv, p.cell
      FROM embeddings q,
           LATERAL (
             SELECT c.cell FROM cent c
             ORDER BY {_COS_CQ} DESC, c.cell LIMIT {_IVF_PROBES}
           ) p
      WHERE q.vec_id < {_ANN_N_QUERIES}
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             {vec.sql_cosine('p.qv', 'a.nvec')} AS cos
      FROM probed p JOIN assigned a ON p.cell = a.cell
      WHERE a.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INT) AS "rank",
           round(cos, 6) AS cosine
    FROM scored
    QUALIFY "rank" <= 5
"""

ORACLES["events_asof"] = """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT event_id AS purchase_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           p.purchase_id AS asof_purchase_id,
           (epoch_us(c.ts) - epoch_us(p.ts)) AS age_micros
    FROM clicks c
    ASOF JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
"""

ORACLES["vertex_responses"] = f"""
    WITH base AS (
      SELECT doc_id, text, {IDX} AS idx FROM documents
    ), responded AS (
      SELECT doc_id,
             {_is_error_sql(CUSTOM_ID)} AS is_error,
             {mock.sql_label('text')} AS label
      FROM base
    )
    SELECT doc_id,
           CASE WHEN is_error THEN 'error' ELSE 'ok' END AS status,
           CASE WHEN is_error THEN NULL ELSE label END AS answer
    FROM responded
"""

ORACLES["order_revenue_topk"] = """
    SELECT l.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4))
                       - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d')
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
"""

ORACLES["lang_source_grouping_sets"] = """
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source))
"""

ORACLES["lang_source_rollup"] = """
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP(lang, source)
"""

# -- n-gram Jaccard / semi-anti joins / range join / cube / distinct agg ------


def _minhash_pairs_base(hs_sql: str) -> str:
    """MinHash-LSH candidate CTE chain over an arbitrary feature-hash
    list expression (shared by the word-shingle and char-n-gram paths)."""
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, {dedup.sql_band_key('sig', j)} AS key FROM sig"
        for j in range(dedup.LSH_BANDS)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, {hs_sql} AS hs FROM documents
    ), sig AS (
      SELECT doc_id, {dedup.sql_minhash_signature('hs')} AS sig FROM sh
    ), bands AS (
      {bands}
    ), small AS (
      SELECT * FROM bands
      QUALIFY count(*) OVER (PARTITION BY band, key) <= {dedup.MAX_BUCKET}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM small a JOIN small b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    """


ORACLES["ngram_jaccard"] = _minhash_pairs_base(
    dedup.sql_char_shingle_hashes("text")
) + f"""
    , scored AS (
      SELECT c.id_a, c.id_b,
             round(len(list_intersect(x.hs, y.hs))::DOUBLE
                   / len(list_distinct(x.hs || y.hs)), 6) AS jaccard
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored
    WHERE jaccard >= {dedup.NGRAM_JACCARD_THRESHOLD}
"""

ORACLES["order_priority_returns"] = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o_orderpriority
"""

ORACLES["customers_without_orders"] = """
    SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
    GROUP BY n.n_name
"""


def _brackets_values() -> str:
    from genai_batch_processor_spark import queries as _q

    return ", ".join(
        f"('{name}', {lo}, {hi})" for name, lo, hi in _q.PRICE_BRACKETS
    )


ORACLES["price_bracket_join"] = f"""
    WITH br(bracket, lo, hi) AS (VALUES {_brackets_values()})
    SELECT br.bracket,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(p.p_size) AS BIGINT) AS total_size,
           min(p.p_retailprice) AS min_price,
           max(p.p_retailprice) AS max_price
    FROM part p
    JOIN br ON p.p_retailprice >= br.lo AND p.p_retailprice < br.hi
    GROUP BY br.bracket
"""

ORACLES["events_cube"] = """
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY CUBE(event_type, strftime(ts, '%Y-%m-%d'))
"""

# Same oracle as the JVM brute-force path: the Pandas-UDF variant must
# produce identical ranked neighbors (numpy float64 vs sequential-sum
# doubles agree far below the 6-decimal rounding).
ORACLES["embedding_topk_pandas"] = ORACLES["embedding_topk"]

ORACLES["events_value_percentiles"] = """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
"""

# The streaming twin must reproduce the batch aggregation exactly, so it
# shares the batch oracle verbatim.
ORACLES["events_hourly_stream"] = ORACLES["events_hourly"]

# Stateful-stream twin: on a bounded input the per-user running state
# must equal the batch count/argmax. The "last" event orders by MICROS-
# truncated ts then event_id — exactly what the stream's update function
# sees (ts arrives as micros there; raw nanos ordering could flip a tie).
ORACLES["user_stats_stream"] = """
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY (epoch_ns(ts) // 1000) DESC, event_id DESC
             ) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           event_type AS last_event_type
    FROM ranked WHERE rn = 1
"""

ORACLES["supplier_balance"] = """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             AS total_acctbal,
           max(s.s_acctbal) AS max_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""

_NORM6 = (
    "CAST(round(sqrt(list_dot_product(embedding::DOUBLE[], "
    "embedding::DOUBLE[])) * 1000000, 0) AS BIGINT)"
)

ORACLES["embedding_label_stats"] = f"""
    WITH n AS (
      SELECT label, {_NORM6} AS n6 FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           (CAST(sum(n6) AS DOUBLE) / (count(*) * 1000000.0)) AS avg_norm
    FROM n
    GROUP BY label
"""

ORACLES["lang_vocab"] = """
    WITH terms AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    )
    SELECT lang,
           CAST(count(DISTINCT term) AS BIGINT) AS vocab,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM terms
    WHERE regexp_matches(term, '^[a-z]+$')
    GROUP BY lang
"""

# -- training-data curation: sampling / splits / scrubbing / decontam --------

from genai_batch_processor_spark.operators import sampling as _smp  # noqa: E402
from genai_batch_processor_spark import queries as _q  # noqa: E402

ORACLES["doc_sample"] = f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_smp.sql_hash_coord('doc_id', 'sample')}
          < {_smp.sql_stratified_threshold('lang', _q.SAMPLE_RATES, _q.SAMPLE_DEFAULT_RATE)}
"""

ORACLES["quality_weighted_sample"] = f"""
    SELECT doc_id, source,
           CAST(round(q * 1000, 0) AS INT) AS w_milli
    FROM (
      SELECT doc_id, source,
             {tx.sql_quality_score('text')} AS q,
             {_smp.sql_hash_coord('doc_id', 'wsample')} AS u
      FROM documents
    )
    WHERE u < CAST(round(q * {_smp.COORD_MOD}, 0) AS BIGINT)
"""

ORACLES["split_counts"] = f"""
    SELECT {_smp.sql_assign_split('doc_id')} AS split, lang,
           CAST(count(*) AS BIGINT) AS n
    FROM documents
    GROUP BY 1, 2
"""

ORACLES["source_quota"] = f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_smp.sql_hash_coord('doc_id', 'quota')} ASC,
                        doc_id ASC
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rn <= {_q.QUOTA_PER_SOURCE}
"""

ORACLES["pii_redaction"] = f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call 555-0142.'
               ELSE text END AS t2
      FROM documents
    )
    SELECT doc_id,
           {tx.sql_email_count('t2')} AS n_emails,
           {tx.sql_phone_count('t2')} AS n_phones,
           {sql_hash60(tx.sql_redact_pii('t2'))} AS redacted_fp
    FROM t
"""

ORACLES["doc_repetition"] = f"""
    SELECT doc_id,
           round({tx.sql_repetition_ratio('text')}, 6) AS repetition
    FROM documents
"""

ORACLES["decontaminate"] = f"""
    WITH bench AS (
      SELECT DISTINCT unnest({dedup.sql_shingle_hashes(
          'text', dedup.CONTAMINATION_N, hash_bits=60)}) AS h
      FROM documents WHERE doc_id < {_q.BENCHMARK_MAX_DOC_ID}
    ), corp AS (
      SELECT doc_id, unnest({dedup.sql_shingle_hashes(
          'text', dedup.CONTAMINATION_N, hash_bits=60)}) AS h
      FROM documents WHERE doc_id >= {_q.BENCHMARK_MAX_DOC_ID}
    )
    SELECT c.doc_id, CAST(count(DISTINCT c.h) AS BIGINT) AS n_hits
    FROM corp c JOIN bench b ON c.h = b.h
    GROUP BY c.doc_id
"""

# Bloom-prefiltered decontamination: the Bloom filter has no false
# negatives and the residual exact join kills the false positives, so
# the oracle is the PLAIN exact join — the sketch must be invisible in
# the answer. 60-bit shingle hashes (the probe carves 3 x 13-bit Bloom
# positions out of 60; 32 would only cover 2).
ORACLES["decontaminate_bloom"] = f"""
    WITH bench AS (
      SELECT DISTINCT unnest({dedup.sql_shingle_hashes(
          'text', _q.DECON_BLOOM_N, hash_bits=60)}) AS h
      FROM documents
      WHERE doc_id % {_q.DECON_BLOOM_MOD} = 3
        AND doc_id < {_q.DECON_BLOOM_MAX_ID}
    ), corp AS (
      SELECT doc_id, unnest({dedup.sql_shingle_hashes(
          'text', _q.DECON_BLOOM_N, hash_bits=60)}) AS h
      FROM documents
      WHERE NOT (doc_id % {_q.DECON_BLOOM_MOD} = 3
                 AND doc_id < {_q.DECON_BLOOM_MAX_ID})
    )
    SELECT c.doc_id, CAST(count(DISTINCT c.h) AS BIGINT) AS n_hits
    FROM corp c JOIN bench b ON c.h = b.h
    GROUP BY c.doc_id
"""

# Misra-Gries heavy hitters: the candidate pass is a guaranteed
# superset and the final threshold is exact, so the oracle is the plain
# GROUP BY ... HAVING the sketch avoids running over the full
# vocabulary.
from genai_batch_processor_spark.functions import sketches as _sk0  # noqa: E402

ORACLES["lang_heavy_hitters"] = f"""
    {_sk0.sql_grouped_heavy_hitters(
        '''SELECT lang, t AS token FROM (
             SELECT lang, unnest(string_split(lower(text), ' ')) AS t
             FROM documents
           ) WHERE regexp_matches(t, '^[a-z]+$')''',
        'lang',
        'token',
    )}
    ORDER BY lang, token
"""

ORACLES["heavy_hitter_tokens"] = f"""
    {_sk0.sql_heavy_hitters(
        '''SELECT t AS token FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS t
             FROM documents
           ) WHERE regexp_matches(t, '^[a-z]+$')''',
        'token',
    )}
    ORDER BY token
"""

# Multimodal frame-sample fan-out: replay the stub's md5 chain in SQL.
# generate_series(0, k) is INCLUSIVE, so k = h[0] % MAX_FRAMES yields
# k+1 = 1..MAX_FRAMES frames — same count as the Python stub.
from genai_batch_processor_spark.operators import multimodal as _mm  # noqa: E402

ORACLES["video_frames"] = f"""
    WITH t AS (
      SELECT doc_id,
             md5(CASE WHEN coalesce(substr(text, 1, 24), '') = ''
                      THEN chr(0) ELSE substr(text, 1, 24) END) AS dig
      FROM documents
    ), f AS (
      SELECT doc_id, dig,
             unnest(generate_series(
               0, ('0x' || substr(dig, 1, 2))::INT % {_mm.MAX_FRAMES}
             )) AS frame_idx
      FROM t
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           ('0x' || substr(md5(dig || '-' || CAST(frame_idx AS VARCHAR)), 1, 15))::BIGINT
             AS frame_fp
    FROM f
"""

# KMV distinct sketch: both engines replay the same md5 min-k, so even
# the ESTIMATE matches exactly.
from genai_batch_processor_spark.functions import sketches as _sk  # noqa: E402

_TERMS_SQL = """
  SELECT lang, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
"""

ORACLES["lang_distinct_sketch"] = f"""
    WITH est AS (
      {_sk.sql_kmv_distinct(
          f"SELECT lang, term FROM ({_TERMS_SQL}) WHERE regexp_matches(term, '^[a-z]+$')",
          "lang", "term")}
    ), exact AS (
      SELECT lang, CAST(count(DISTINCT term) AS BIGINT) AS exact_distinct
      FROM ({_TERMS_SQL})
      WHERE regexp_matches(term, '^[a-z]+$')
      GROUP BY lang
    )
    SELECT e.lang, e.est_distinct, x.exact_distinct
    FROM est e JOIN exact x ON e.lang = x.lang
"""

# The mapInPandas runner must produce EXACTLY what the column-expr mock
# produces — same oracle, so the distributed-inference plumbing is held
# to the same bit-level contract.
ORACLES["runner_responses"] = ORACLES["mock_responses"]

ORACLES["events_rolling"] = """
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
    FROM (
      SELECT event_id, user_id, value,
             (epoch_ns(ts) // 1000000000) AS sec
      FROM events
    )
    WINDOW w AS (
      PARTITION BY user_id ORDER BY sec
      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
    )
"""

ORACLES["balance_quartiles"] = """
    WITH q AS (
      SELECT n.n_name AS nation, c.c_acctbal,
             ntile(4) OVER (
               PARTITION BY n.n_name
               ORDER BY c.c_acctbal ASC, c.c_custkey ASC
             ) AS quartile
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT nation, CAST(quartile AS INT) AS quartile,
           CAST(count(*) AS BIGINT) AS n,
           min(c_acctbal) AS min_bal,
           max(c_acctbal) AS max_bal
    FROM q
    GROUP BY nation, quartile
"""

# Streaming dedup twin: the doubled stream must collapse back to the
# plain batch aggregation.
ORACLES["events_dedup_stream"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
"""

# Deep relational shapes — identical SQL text to the Spark-side
# spark.sql entry points (modulo view names), so DuckDB plans the same
# correlated/EXISTS semantics independently.

ORACLES["min_cost_supplier"] = """
    SELECT DISTINCT p.p_partkey, s.s_name,
           l.l_extendedprice AS min_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_size <= 5
      AND l.l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey)
"""

ORACLES["small_qty_revenue"] = """
    SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND l.l_quantity < (
        SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,6)))
                           AS DOUBLE) / count(*))
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
"""

ORACLES["lone_return_suppliers"] = """
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_lone_returns
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
"""

ORACLES["price_moments"] = """
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                  AS DOUBLE) AS sx,
             CAST(sum(CAST(l_discount AS DECIMAL(9,6)))
                  AS DOUBLE) AS sy,
             -- DuckDB does not auto-widen decimal products; the wider
             -- casts keep each product inside int128 (width <= 38) while
             -- the values stay exactly what the Spark side sums.
             CAST(sum(CAST(l_extendedprice AS DECIMAL(29,4))
                      * CAST(l_discount AS DECIMAL(9,6)))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_discount AS DECIMAL(19,6))
                      * CAST(l_discount AS DECIMAL(19,6)))
                  AS DOUBLE) AS syy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag AS returnflag,
           CAST(n AS BIGINT) AS n_lines,
           (n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             AS corr_price_discount,
           (sxy - sx * sy / n) / (n - 1) AS covar_samp,
           sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_price
    FROM m
"""

ORACLES["embedding_centroids"] = """
    WITH pe AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS val
      FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1000000, 0)
                         AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0) AS avg_val
    FROM pe
    GROUP BY label, dim
"""

ORACLES["quality_unpivot"] = f"""
    WITH w AS (
      SELECT source,
             CAST(count(*) AS DOUBLE) AS m_docs,
             CAST(sum({tx.sql_token_count('text')}) AS DOUBLE)
               / count(*) AS m_tokens,
             CAST(sum(CAST(round({tx.sql_quality_score('text')} * 1000000,
                                 0) AS BIGINT)) AS DOUBLE)
               / (count(*) * 1000000.0) AS m_quality
      FROM documents
      GROUP BY source
    )
    SELECT source, 'n_docs' AS metric, m_docs AS value FROM w
    UNION ALL
    SELECT source, 'avg_tokens' AS metric, m_tokens AS value FROM w
    UNION ALL
    SELECT source, 'avg_quality' AS metric, m_quality AS value FROM w
"""

# Streaming sessionization twin: micros-precision islands with the
# session_window merge rule — consecutive events belong to ONE session
# iff their gap is strictly under 30 minutes (new session at >= gap),
# matching Spark's session_window(ts, gap) semantics exactly.
ORACLES["user_sessions_stream"] = """
    WITH gapped AS (
      SELECT user_id, event_id, (epoch_ns(ts) // 1000) AS us,
             (epoch_ns(ts) // 1000) - lag(epoch_ns(ts) // 1000) OVER w
               AS gap
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), flagged AS (
      SELECT user_id, us, event_id,
             CASE WHEN gap IS NULL OR gap >= 1800000000 THEN 1 ELSE 0 END
               AS new_sess
      FROM gapped
    ), sessioned AS (
      SELECT user_id,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY us, event_id
             ) AS sess_id
      FROM flagged
    ), per_sess AS (
      SELECT user_id, sess_id, count(*) AS n_events
      FROM sessioned GROUP BY user_id, sess_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(n_events) AS BIGINT) AS max_session_events
    FROM per_sess
    GROUP BY user_id
"""

# Skew-mitigation twins: the oracles are the UNSALTED queries — salting
# must be invisible in the results.
ORACLES["salted_event_totals"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY event_type
"""

ORACLES["salted_nation_balance"] = """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             AS total_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""

# Iterative k-means: the oracle unrolls the same Lloyd iterations as
# CTEs from the same constants — generated by the operator module so the
# two sides cannot drift.
from genai_batch_processor_spark.operators import clustering as _clu

ORACLES["kmeans_cells"] = _clu.sql_kmeans_cells()

# The Arrow argmin's agreement twin: the oracle asserts TOTAL agreement
# with the literal path (agree_ppm == 1e6) — any Spark-side divergence
# between assign_cells_arrow and assign_cells hash-mismatches here, so
# the driver gate covers the scale path (round-5 verdict item 4).
ORACLES["kmeans_assign_agreement"] = """
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_agree,
           CAST(1000000 AS BIGINT) AS agree_ppm
    FROM embeddings
"""

# Trained-IVF search: the SAME unrolled training replayed as a derived
# table (bit-identical centroids via scaled-integer means), then the
# IVF assign/probe/score dataflow of embedding_topk_ivf over it.
# Parameterized by n_probe so the recall knob sweep (ivf_recall_sweep,
# round-9 verdict item 6) replays the identical contract at each probe
# setting instead of a hand-copied variant.


def _ivf_trained_sql(n_probe: int) -> str:
    return f"""
    WITH cent_long AS (
      SELECT * FROM ({_clu.sql_kmeans_cells()})
    ), cent AS (
      SELECT cell, list(c_val ORDER BY dim) AS cv
      FROM cent_long GROUP BY cell
    ), assigned AS (
      SELECT e.vec_id AS neighbor_id, e.embedding AS nvec,
             (SELECT c.cell FROM cent c
              ORDER BY {_COS_CE} DESC, c.cell LIMIT 1) AS cell
      FROM embeddings e
    ), probed AS (
      SELECT q.vec_id AS query_id, q.embedding AS qv, p.cell
      FROM embeddings q,
           LATERAL (
             SELECT c.cell FROM cent c
             ORDER BY {_COS_CQ} DESC, c.cell LIMIT {n_probe}
           ) p
      WHERE q.vec_id < {_ANN_N_QUERIES}
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             {vec.sql_cosine('p.qv', 'a.nvec')} AS cos
      FROM probed p JOIN assigned a ON p.cell = a.cell
      WHERE a.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INT) AS "rank",
           round(cos, 6) AS cosine
    FROM scored
    QUALIFY "rank" <= 5
"""


ORACLES["embedding_topk_ivf_trained"] = _ivf_trained_sql(_IVF_PROBES)

# Stream-stream interval join twin: plain batch self-join in micros
# (both engines compare micros-truncated event times).
ORACLES["click_purchase_stream"] = """
    SELECT a.user_id,
           a.event_id AS click_id,
           b.event_id AS purchase_id,
           (epoch_ns(b.ts) // 1000) - (epoch_ns(a.ts) // 1000) AS lag_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click'
     AND b.event_type = 'purchase'
     AND (epoch_ns(b.ts) // 1000) > (epoch_ns(a.ts) // 1000)
     AND (epoch_ns(b.ts) // 1000)
         <= (epoch_ns(a.ts) // 1000) + 3600000000
"""

ORACLES["nation_trade"] = """
    SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4))
                       - CAST(l.l_discount AS DECIMAL(18,4))))
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE (n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2')
       OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1')
    GROUP BY n2.n_name, n1.n_name, year(l.l_shipdate)
"""

ORACLES["market_share"] = """
    SELECT year(o.o_orderdate) AS o_year,
           CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4))
                                 - CAST(l.l_discount AS DECIMAL(18,4)))
                         ELSE CAST(0 AS DECIMAL(19,8)) END)
                AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l.l_discount AS DECIMAL(18,4))))
                    AS DOUBLE) AS mkt_share,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN region r ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY year(o.o_orderdate)
"""

# Star-algorithm components must equal label-propagation components.
ORACLES["dedup_components_star"] = ORACLES["dedup_components"]

ORACLES["daily_new_users"] = """
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ), daily AS (
      SELECT first_day, CAST(count(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY first_day
    )
    SELECT strftime(first_day, '%Y-%m-%d') AS day,
           new_users,
           CAST(sum(new_users) OVER (
             ORDER BY first_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM daily
"""

# Hopping windows: each event contributes to its 30-min bucket's window
# and the one starting 30 minutes earlier.
ORACLES["events_sliding"] = """
    WITH shifted AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws,
             event_type, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - INTERVAL '30 minutes' AS ws,
             event_type, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS total_value
    FROM shifted
    GROUP BY 1, 2
"""

ORACLES["user_value_share"] = """
    SELECT event_id, user_id,
           value / nullif(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id
           ) AS DOUBLE), 0) AS value_share
    FROM events
"""

# Hierarchical rollup twin: direct daily aggregation over RAW events —
# the two-level hourly→daily path must be lossless.
ORACLES["events_daily_rollup"] = """
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d')
             AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY 1, 2
"""

# Mergeable histogram quantiles: same fixed buckets, same ceil-rank rule.
ORACLES["value_histogram_quantiles"] = """
    WITH hist AS (
      SELECT event_type, CAST(floor(value * 2) AS BIGINT) AS bucket,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), c AS (
      SELECT event_type, bucket,
             sum(n) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM hist
    )
    SELECT event_type,
           CAST(min(CASE WHEN cum >= ceil(0.5 * total) THEN bucket END)
                AS DOUBLE) / 2.0 AS p50_est,
           CAST(min(CASE WHEN cum >= ceil(0.95 * total) THEN bucket END)
                AS DOUBLE) / 2.0 AS p95_est,
           CAST(min(CASE WHEN cum >= ceil(0.99 * total) THEN bucket END)
                AS DOUBLE) / 2.0 AS p99_est,
           CAST(max(total) AS BIGINT) AS n
    FROM c GROUP BY event_type
"""

ORACLES["daily_activity_full_outer"] = """
    WITH od AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ), ed AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    )
    SELECT strftime(coalesce(od.d, ed.d), '%Y-%m-%d') AS day,
           od.n_orders, ed.n_events
    FROM od FULL OUTER JOIN ed ON od.d = ed.d
"""

# Multimodal decode boundary twin — generated by the operator module.
from genai_batch_processor_spark.operators import multimodal as _mm

ORACLES["image_features"] = _mm.sql_image_features("text")

ORACLES["events_daily_spine"] = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), bounds AS (
      SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
      FROM bounds
    )
    SELECT strftime(CAST(s.d AS DATE), '%Y-%m-%d') AS day,
           CAST(coalesce(dl.n, 0) AS BIGINT) AS n_events
    FROM spine s LEFT JOIN daily dl ON CAST(s.d AS DATE) = dl.d
"""

ORACLES["doc_word_filters"] = f"""
    SELECT doc_id,
           CAST(len(list_filter({tx.sql_words('text')},
                                x -> length(x) > 6)) AS INT)
             AS n_long_words,
           CAST(list_max(list_transform({tx.sql_words('text')},
                                        x -> length(x))) AS INT)
             AS max_word_len,
           (len(list_filter({tx.sql_words('text')},
                            x -> regexp_matches(x, '[0-9]'))) > 0)
             AS has_digit_token
    FROM documents
"""

ORACLES["word_bigrams"] = f"""
    WITH ws AS (
      SELECT {tx.sql_words('text')} AS w FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1]))
               AS bigram
      FROM ws WHERE len(w) > 1
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1 HAVING count(*) >= 20
"""

ORACLES["hourly_value_change"] = """
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
             sum(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
           CAST(v AS DOUBLE) AS total_value,
           CAST(v - lag(v) OVER (
             PARTITION BY event_type ORDER BY h
           ) AS DOUBLE) AS delta
    FROM hourly
"""

ORACLES["distinct_buyers_daily"] = """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
           CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) AS BIGINT)
             AS buying_users
    FROM events
    GROUP BY 1
"""

# Streaming hopping windows share the batch sliding oracle.
ORACLES["events_sliding_stream"] = ORACLES["events_sliding"]

ORACLES["top_balance_percentile"] = """
    WITH ranked AS (
      SELECT c_nationkey, c_acctbal,
             percent_rank() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal ASC, c_custkey ASC
             ) AS pr
      FROM customer
    )
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_top_decile,
           min(r.c_acctbal) AS decile_floor
    FROM ranked r JOIN nation n ON r.c_nationkey = n.n_nationkey
    WHERE r.pr >= 0.9
    GROUP BY n.n_name
"""

# Forward as-of with tolerance: nearest purchase at-or-after each click
# within 2h, ties on equal purchase ts broken by lowest event id.
ORACLES["events_asof_forward"] = """
    WITH c AS (
      SELECT user_id, event_id AS click_id,
             (epoch_ns(ts) // 1000) AS cus
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, event_id AS purchase_id,
             (epoch_ns(ts) // 1000) AS pus
      FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT c.user_id, c.click_id, p.purchase_id, p.pus, c.cus,
             row_number() OVER (
               PARTITION BY c.click_id
               ORDER BY p.pus ASC, p.purchase_id ASC
             ) AS rn
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.pus >= c.cus
       AND p.pus <= c.cus + 7200000000
    )
    SELECT user_id, click_id,
           purchase_id AS asof_purchase_id,
           pus - cus AS lag_us
    FROM j WHERE rn = 1
"""

ORACLES["nation_revenue_pareto"] = """
    WITH per_nation AS (
      SELECT n.n_name,
             sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name,
           CAST(row_number() OVER w AS INT) AS rank,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(sum(rev) OVER (
             w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE)
             / CAST(sum(rev) OVER () AS DOUBLE) AS cum_share
    FROM per_nation
    WINDOW w AS (ORDER BY rev DESC, n_name ASC)
"""

# Chunking / packing twins — generated by the operator module so the
# window geometry can't drift between engines.
from genai_batch_processor_spark.operators import chunking as _chk

ORACLES["doc_chunks"] = _chk.sql_chunk_documents()

ORACLES["chunk_packing"] = f"""
    WITH chunks AS (
      {_chk.sql_chunk_documents()}
    ), with_src AS (
      SELECT c.*, d.source
      FROM chunks c JOIN documents d USING (doc_id)
    ), binned AS (
      SELECT source,
             CAST(floor((sum(n_words) OVER w - n_words)
                        / {_chk.PACK_BUDGET}) AS BIGINT) AS bin,
             n_words
      FROM with_src
      WINDOW w AS (
        PARTITION BY source ORDER BY doc_id, chunk_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_words) AS BIGINT) AS packed_words,
           CAST(sum(n_words) AS DOUBLE) / {_chk.PACK_BUDGET}.0
             AS fill_ratio
    FROM binned
    GROUP BY source, bin
"""

from genai_batch_processor_spark.functions import vectors as _vec

ORACLES["embedding_quantization"] = f"""
    SELECT vec_id,
           (q).scale AS scale,
           (q).max_abs_err AS max_abs_err,
           (q).n_saturated AS n_saturated
    FROM (
      SELECT vec_id, {_vec.sql_quantize_int8_stats('embedding')} AS q
      FROM embeddings
    )
"""

ORACLES["embedding_topk_int8"] = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {_vec.sql_int8_scale('embedding')} AS qs,
             {_vec.sql_int8_codes('embedding')} AS qc
      FROM embeddings WHERE vec_id < {_ANN_N_QUERIES}
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {_vec.sql_int8_scale('embedding')} AS cs,
             {_vec.sql_int8_codes('embedding')} AS cc
      FROM embeddings
    ), approxed AS (
      SELECT q.query_id, c.neighbor_id, c.cv, q.qv,
             list_dot_product(c.cc::DOUBLE[], q.qc::DOUBLE[])
               * c.cs * q.qs AS approx
      FROM c CROSS JOIN q
      WHERE c.neighbor_id <> q.query_id
    ), short AS (
      SELECT * FROM approxed
      WHERE approx IS NOT NULL
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY approx DESC, neighbor_id ASC
      ) <= {similarity.INT8_SHORTLIST_FACTOR * similarity.TOPK_DEFAULT}
    ), scored AS (
      SELECT query_id, neighbor_id,
             {_vec.sql_cosine('qv', 'cv')} AS cos
      FROM short
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, neighbor_id
           ) AS INT) AS "rank",
           round(cos, 6) AS cosine
    FROM scored
    WHERE cos IS NOT NULL
    QUALIFY "rank" <= {similarity.TOPK_DEFAULT}
"""

# Embedding-side dedup closure: recursive transitive closure over a
# `verified(id_a, id_b)` CTE, survivors = everyone not a loser. ONE
# copy of the closure fragment — embedding_dedup_survivors (LSH cells)
# and semdedup_survivors (k-means cells) both append it to their own
# pair CTEs, so a closure fix can never apply to one and miss the
# other.
_EMB_CLOSURE_SQL = """
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b AS u, id_a AS v FROM verified
    ), reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    ), comp AS (
      SELECT u AS vid, min(v) AS cid FROM reach GROUP BY u
    ), losers AS (
      SELECT vid FROM comp WHERE vid <> cid
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vid FROM losers)
"""

_EMB_PAIRS = ORACLES["embedding_near_dup"].replace(
    "WITH b AS", "WITH RECURSIVE b AS", 1
)
_EMB_SELECT_IDX = _EMB_PAIRS.rindex("SELECT id_a")
ORACLES["embedding_dedup_survivors"] = (
    _EMB_PAIRS[:_EMB_SELECT_IDX].rstrip().rstrip(")")
    + """),
    verified AS (
      """
    + _EMB_PAIRS[_EMB_SELECT_IDX:].strip()
    + _EMB_CLOSURE_SQL
)

ORACLES["bigram_followers"] = f"""
    WITH ws AS (
      SELECT {tx.sql_words('text')} AS w FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> struct_pack(head := w[i],
                                                    follower := w[i + 1])))
               AS p
      FROM ws WHERE len(w) > 1
    ), counts AS (
      SELECT (p).head AS head, (p).follower AS follower,
             count(*) AS n_pair
      FROM pairs GROUP BY 1, 2
    ), ranked AS (
      SELECT head, follower, n_pair,
             sum(n_pair) OVER (PARTITION BY head) AS n_head,
             row_number() OVER (
               PARTITION BY head ORDER BY n_pair DESC, follower ASC
             ) AS rn
      FROM counts
    )
    SELECT head, follower,
           CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_head AS BIGINT) AS n_head,
           CAST(n_pair AS DOUBLE) / CAST(n_head AS DOUBLE) AS p_follow
    FROM ranked
    WHERE rn = 1 AND n_head >= 20
"""

ORACLES["source_diversity"] = """
    WITH per AS (
      SELECT source, lang, count(*) AS n
      FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_langs,
           CAST(sum(n) AS BIGINT) AS n_docs,
           1.0 - CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
                      AS DOUBLE)
                   / CAST(CAST(sum(n) AS DECIMAL(19,0))
                          * CAST(sum(n) AS DECIMAL(19,0)) AS DOUBLE)
             AS gini_simpson
    FROM per GROUP BY source
"""

# ANN recall@k: every approximate method's oracle replayed as a derived
# table, tagged, unioned and LEFT-joined against the brute-force truth.
# Composed from the SAME oracle strings the individual queries use, so
# the recall contract can never drift from the per-method contracts.
ORACLES["embedding_ann_recall"] = f"""
    WITH truth AS (
      SELECT query_id, neighbor_id FROM ({ORACLES["embedding_topk"]})
    ), tagged AS (
      SELECT 'int8' AS method, query_id, neighbor_id
      FROM ({ORACLES["embedding_topk_int8"]})
      UNION ALL
      SELECT 'ivf', query_id, neighbor_id
      FROM ({ORACLES["embedding_topk_ivf"]})
      UNION ALL
      SELECT 'ivf_trained', query_id, neighbor_id
      FROM ({ORACLES["embedding_topk_ivf_trained"]})
      UNION ALL
      SELECT 'lsh', query_id, neighbor_id
      FROM ({ORACLES["embedding_topk_lsh"]})
    )
    SELECT g.method,
           CAST(count(*) AS BIGINT) AS n_returned,
           CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE)
             / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall
    FROM tagged g
    LEFT JOIN truth t
      ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id
    GROUP BY g.method
"""

# IVF recall/cost knob sweep (round-9 verdict item 6): the trained-IVF
# contract replayed at n_probe ∈ {1, 2, 4} against the same brute-force
# truth — the measured data a 100 TB operator reads before choosing a
# probe setting. Deterministic trained cells make every recall exact.
ORACLES["ivf_recall_sweep"] = f"""
    WITH truth AS (
      SELECT query_id, neighbor_id FROM ({ORACLES["embedding_topk"]})
    ), tagged AS (
      SELECT 1 AS n_probe, query_id, neighbor_id
      FROM ({_ivf_trained_sql(1)})
      UNION ALL
      SELECT 2, query_id, neighbor_id
      FROM ({_ivf_trained_sql(2)})
      UNION ALL
      SELECT 4, query_id, neighbor_id
      FROM ({_ivf_trained_sql(4)})
    )
    SELECT CAST(g.n_probe AS INT) AS n_probe,
           CAST(count(*) AS BIGINT) AS n_returned,
           CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE)
             / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall
    FROM tagged g
    LEFT JOIN truth t
      ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id
    GROUP BY g.n_probe
"""

# -- submit-side batching (operators/batching.py) -----------------------------

ORACLES["prompt_dedup_requests"] = f"""
    WITH base AS (
      SELECT doc_id, text, {IDX} AS idx FROM documents
    ), p AS (
      SELECT idx, {_prompt_sql('text')} AS prompt FROM base
    )
    SELECT CAST(min(idx) AS BIGINT) AS rep_idx,
           CAST(count(*) AS BIGINT) AS n_rows,
           prompt
    FROM p GROUP BY prompt
"""

ORACLES["prompt_dedup_fanout"] = f"""
    WITH base AS (
      SELECT doc_id, text, {IDX} AS idx FROM documents
    ), p AS (
      SELECT doc_id, idx, {_prompt_sql('text')} AS prompt FROM base
    ), g AS (
      SELECT prompt, min(idx) AS rep_idx FROM p GROUP BY prompt
    ), j AS (
      SELECT p.doc_id, p.prompt, ('request-' || g.rep_idx) AS rep_custom_id
      FROM p JOIN g USING (prompt)
    )
    SELECT doc_id, rep_custom_id,
           CASE WHEN {_is_error_sql('rep_custom_id')}
                THEN 'error' ELSE 'ok' END AS status,
           CASE WHEN {_is_error_sql('rep_custom_id')}
                THEN NULL ELSE {_label_sql('prompt')} END AS answer
    FROM j
"""

ORACLES["batch_shards"] = f"""
    WITH base AS (
      SELECT doc_id, {IDX} AS idx, strlen(text) AS n_bytes FROM documents
    ), c AS (
      SELECT *,
             COALESCE(sum(n_bytes) OVER (
               ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum
      FROM base
    ), b AS (
      -- budget = cap - max row (strict-cap guarantee, see plan_shards)
      SELECT *,
             (cum // (16384 - (SELECT max(n_bytes) FROM base)))
               AS byte_shard
      FROM c
    )
    SELECT doc_id,
           CAST(idx AS BIGINT) AS idx,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(byte_shard AS BIGINT) AS byte_shard,
           CAST((row_number() OVER (PARTITION BY byte_shard ORDER BY idx)
                 - 1) // 40 AS BIGINT) AS line_shard,
           printf('shard-%05d-%03d', CAST(byte_shard AS INT),
                  CAST((row_number() OVER (
                          PARTITION BY byte_shard ORDER BY idx)
                        - 1) // 40 AS INT)) AS shard_key
    FROM b
"""

from genai_batch_processor_spark.operators import batching as _batching

ORACLES["training_order"] = f"""
    WITH c AS (
      SELECT doc_id,
             {_batching.sql_shuffle_coord('doc_id', 'epoch-0')} AS coord
      FROM documents
    )
    SELECT doc_id,
           CAST(coord % 8 AS INT) AS shard,
           CAST(row_number() OVER (
                  PARTITION BY (coord % 8) ORDER BY coord, doc_id
                ) - 1 AS BIGINT) AS pos
    FROM c
"""

# Audio windowing: replay the md5 chain of window_audio_stub — distinct
# digest offset (hex chars 3-4) and '@' chain separator vs the video
# sampler, so the two fan-outs decorrelate on identical payloads.
ORACLES["audio_windows"] = f"""
    WITH t AS (
      SELECT doc_id,
             md5(CASE WHEN coalesce(substr(text, 1, 24), '') = ''
                      THEN chr(0) ELSE substr(text, 1, 24) END) AS dig
      FROM documents
    ), w AS (
      SELECT doc_id, dig,
             unnest(generate_series(
               0, ('0x' || substr(dig, 3, 2))::INT % {_mm.MAX_WINDOWS}
             )) AS win_idx
      FROM t
    ), fp AS (
      SELECT doc_id, win_idx,
             ('0x' || substr(md5(dig || '@' || CAST(win_idx AS VARCHAR)),
                             1, 15))::BIGINT AS win_fp
      FROM w
    )
    SELECT doc_id,
           CAST(win_idx AS INT) AS win_idx,
           win_fp,
           CAST(win_fp % 1000 AS INT) AS level_milli
    FROM fp
"""

# Snapshot diff: the v2 mutation is hash-rate derived, so the oracle
# rebuilds v2 with the same portable coordinates and classifies via
# direct column comparison (IS DISTINCT FROM ≡ the Spark side's
# null-marked fingerprint inequality).
_SNAP_DEL = int(0.05 * _smp.COORD_MOD)
_SNAP_MOD = int(0.10 * _smp.COORD_MOD)
_SNAP_ADD = int(0.03 * _smp.COORD_MOD)

ORACLES["snapshot_changes"] = f"""
    WITH docs AS (
      SELECT doc_id, text, lang, source FROM documents
    ), v2 AS (
      SELECT doc_id,
             CASE WHEN {_smp.sql_hash_coord('doc_id', 'snap-mod')}
                       < {_SNAP_MOD}
                  THEN text || ' [v2]' ELSE text END AS text,
             lang, source
      FROM docs
      WHERE NOT ({_smp.sql_hash_coord('doc_id', 'snap-del')} < {_SNAP_DEL})
      UNION ALL
      SELECT doc_id + 10000000, text, lang, source
      FROM docs
      WHERE {_smp.sql_hash_coord('doc_id', 'snap-add')} < {_SNAP_ADD}
    ), j AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'deleted'
                  WHEN (o.text IS DISTINCT FROM n.text)
                    OR (o.lang IS DISTINCT FROM n.lang)
                    OR (o.source IS DISTINCT FROM n.source)
                  THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM docs o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id
    )
    SELECT doc_id, change FROM j WHERE change <> 'unchanged'
"""

# -- incremental pipeline / retries / cost accounting -------------------------

from genai_batch_processor_spark.queries import MODEL_PRICES as _PRICES

# v2 snapshot fragment shared with ORACLES["snapshot_changes"] — same
# hash-rate mutation queries._snapshot_v2 applies.
_SNAP_V2 = f"""
  v2 AS (
    SELECT doc_id,
           CASE WHEN {_smp.sql_hash_coord('doc_id', 'snap-mod')}
                     < {_SNAP_MOD}
                THEN text || ' [v2]' ELSE text END AS text,
           lang, source
    FROM documents
    WHERE NOT ({_smp.sql_hash_coord('doc_id', 'snap-del')} < {_SNAP_DEL})
    UNION ALL
    SELECT doc_id + 10000000, text, lang, source
    FROM documents
    WHERE {_smp.sql_hash_coord('doc_id', 'snap-add')} < {_SNAP_ADD}
  )
"""

ORACLES["incremental_inference"] = f"""
    WITH {_SNAP_V2},
    todo AS (
      SELECT n.doc_id
      FROM v2 n LEFT JOIN documents o ON o.doc_id = n.doc_id
      WHERE o.doc_id IS NULL
         OR (o.text IS DISTINCT FROM n.text)
         OR (o.lang IS DISTINCT FROM n.lang)
         OR (o.source IS DISTINCT FROM n.source)
    ), keyed AS (
      SELECT v2.doc_id,
             ('request-' || v2.doc_id) AS cid,
             {_prompt_sql('v2.text')} AS prompt,
             (todo.doc_id IS NOT NULL) AS recomputed
      FROM v2 LEFT JOIN todo ON v2.doc_id = todo.doc_id
    )
    SELECT doc_id,
           CASE WHEN {_is_error_sql('cid')} THEN 'error' ELSE 'ok' END
             AS status,
           CASE WHEN {_is_error_sql('cid')} THEN NULL
                ELSE {_label_sql('prompt')} END AS answer,
           recomputed
    FROM keyed
"""

ORACLES["retry_responses"] = f"""
    WITH base AS (
      SELECT doc_id, text, {IDX} AS idx FROM documents
    ), keyed AS (
      SELECT doc_id,
             {_prompt_sql('text')} AS prompt,
             ('request-' || idx) AS cid1,
             ('request-' || idx || '-r2') AS cid2
      FROM base
    )
    SELECT doc_id,
           CASE WHEN {_is_error_sql('cid1')} THEN 2 ELSE 1 END AS attempts,
           CASE WHEN {_is_error_sql('cid1')} AND {_is_error_sql('cid2')}
                THEN 'error' ELSE 'ok' END AS status,
           CASE WHEN {_is_error_sql('cid1')} AND {_is_error_sql('cid2')}
                THEN NULL ELSE {_label_sql('prompt')} END AS answer
    FROM keyed
"""

_PRICE_ROWS = ", ".join(
    f"('{m}', {i}, {o})" for m, i, o in _PRICES
)
_MODEL_ARR = "[" + ", ".join(f"'{m}'" for m, _, _ in _PRICES) + "]"

ORACLES["request_cost_estimate"] = f"""
    WITH prices(model, in_per_1k, out_per_1k) AS (
      VALUES {_PRICE_ROWS}
    ), routed AS (
      SELECT {_MODEL_ARR}[
               ({sql_hash32('CAST(doc_id AS VARCHAR)')} % 3)::INT + 1
             ] AS model,
             {tx.sql_token_count(_prompt_sql('text'))} AS n_tokens
      FROM documents
    )
    SELECT model,
           CAST(count(*) AS BIGINT) AS n_requests,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_tokens * in_per_1k) AS BIGINT)
             AS input_cost_nano_usd
    FROM routed JOIN prices USING (model)
    GROUP BY model
"""

# -- training-mixture queries -------------------------------------------------

from genai_batch_processor_spark.queries import (  # noqa: E402
    MIX_TOKEN_BUDGET as _MIX_BUDGET,
    MIX_WEIGHTS as _MIX_W,
)

_VT = _smp.sql_curriculum_time("doc_id", "source", _MIX_W)

ORACLES["curriculum_mix"] = f"""
    WITH head AS (
      SELECT doc_id, source, {_VT} AS vt
      FROM documents
      ORDER BY vt, doc_id
      LIMIT 200
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_head
    FROM head GROUP BY source
"""


def _mix_target_sql(budget: int = _MIX_BUDGET) -> str:
    """Nested-CASE per-stratum token target; shared by the word-count
    and BPE mixture oracles (r11 review: two copies diverging silently
    is how oracle pairs rot)."""
    out = "CAST(0 AS BIGINT)"
    for stratum, w in sorted(_MIX_W.items()):
        out = (
            f"(CASE WHEN source = '{stratum}' "
            f"THEN CAST({int(budget * w)} AS BIGINT) ELSE {out} END)"
        )
    return out


_MIX_PLAN = f"""
  sized AS (
    SELECT doc_id, source,
           {tx.sql_token_count('text')} AS n_tokens
    FROM documents
  ), plan AS (
    SELECT source,
           CAST(sum(n_tokens) AS BIGINT) AS available_tokens,
           {_mix_target_sql()} AS target_tokens,
           least(
             CAST(1000000 AS BIGINT),
             CAST(CAST({_mix_target_sql()} AS HUGEINT) * 1000000
                  // sum(n_tokens) AS BIGINT)
           ) AS rate_ppm
    FROM sized GROUP BY source
  )
"""

ORACLES["mixture_plan"] = f"""
    WITH {_MIX_PLAN}
    SELECT source, available_tokens, target_tokens, rate_ppm FROM plan
"""

ORACLES["mixture_sample"] = f"""
    WITH {_MIX_PLAN}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
    FROM sized JOIN plan USING (source)
    WHERE {_smp.sql_hash_coord('doc_id', 'mixture')} < rate_ppm
    GROUP BY source
"""

# Streaming response ingestion must reproduce the batch joinback
# exactly — shared oracle.
ORACLES["response_joinback_stream"] = ORACLES["joinback"]

# Chunk-vote map-reduce: chunk fragment shared with doc_chunks, same
# deterministic label/error fates, majority with (count desc, label
# asc) tie-break.
from genai_batch_processor_spark.operators import chunking as _ck  # noqa: E402

ORACLES["chunk_vote"] = f"""
    WITH chunks AS (
      {_ck.sql_chunk_documents()}
    ), answered AS (
      SELECT doc_id,
             {_is_error_sql(
                 "('chunk-' || doc_id || '-' || chunk_idx)")} AS err,
             {_label_sql(_prompt_sql('chunk_text'))} AS answer
      FROM chunks
    ), totals AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN err THEN 0 ELSE 1 END) AS BIGINT)
               AS n_voted
      FROM answered GROUP BY doc_id
    ), votes AS (
      SELECT doc_id, answer, count(*) AS n
      FROM answered WHERE NOT err
      GROUP BY doc_id, answer
    ), winner AS (
      SELECT doc_id, answer
      FROM (
        SELECT doc_id, answer,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY n DESC, answer ASC
               ) AS rk
        FROM votes
      ) WHERE rk = 1
    )
    SELECT t.doc_id, t.n_chunks, t.n_voted, w.answer
    FROM totals t LEFT JOIN winner w ON t.doc_id = w.doc_id
"""

# Winnowing containment pairs: replay the fingerprint sets, apply the
# same bucket cap, count shared fps per ordered pair.
ORACLES["winnow_pairs"] = f"""
    WITH d AS (
      SELECT doc_id,
             unnest({dedup.sql_winnow_fingerprints('text')}) AS fp
      FROM documents
    ), sizes AS (
      SELECT fp, count(*) AS n FROM d GROUP BY fp
    ), ok AS (
      SELECT fp FROM sizes
      WHERE n >= 2 AND n <= {dedup.MAX_BUCKET}
    )
    SELECT a.doc_id AS id_a,
           b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM d a
    JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
    JOIN ok ON ok.fp = a.fp
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {dedup.WINNOW_MIN_SHARED}
"""

# LM quality scoring: replay the two-pass bigram LM. Log-probs round to
# integer milli-nats BEFORE the per-doc sum, so engine float-summation
# order cannot split results.
ORACLES["doc_logprob"] = f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), pairs AS (
      SELECT doc_id,
             ws[i] AS head,
             ws[i + 1] AS follower
      FROM base, LATERAL (
        SELECT unnest(generate_series(1, len(ws) - 1)) AS i
      ) WHERE len(ws) > 1
    ), counts AS (
      SELECT head, follower, count(*) AS n_pair
      FROM pairs GROUP BY head, follower
    ), stats AS (
      SELECT *, sum(n_pair) OVER (PARTITION BY head) AS n_head
      FROM counts
    ), vocab AS (
      SELECT count(DISTINCT follower) AS v FROM pairs
    ), scored AS (
      SELECT p.doc_id,
             CAST(round(ln(
               CAST(s.n_pair + 1 AS DOUBLE)
               / CAST(s.n_head + vocab.v AS DOUBLE)
             ) * 1000) AS BIGINT) AS lp
      FROM pairs p
      JOIN stats s ON p.head = s.head AND p.follower = s.follower
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lp) AS BIGINT) AS total_logp_milli
    FROM scored GROUP BY doc_id
"""

# -- round-4 additions: curation-pipeline primitives --------------------------

from genai_batch_processor_spark import queries as _q4  # noqa: E402

ORACLES["rrf_fusion"] = f"""
    WITH exact_r AS (
      SELECT query_id, neighbor_id, "rank" FROM ({ORACLES["embedding_topk"]})
    ), quant_r AS (
      SELECT query_id, neighbor_id, "rank"
      FROM ({ORACLES["embedding_topk_int8"]})
    ), contribs AS (
      SELECT query_id, neighbor_id,
             1000000 // ({_q4.RRF_K} + "rank") AS c
      FROM exact_r
      UNION ALL
      SELECT query_id, neighbor_id,
             1000000 // ({_q4.RRF_K} + "rank") AS c
      FROM quant_r
    ), fused AS (
      SELECT query_id, neighbor_id,
             CAST(count(*) AS INT) AS n_lists,
             CAST(sum(c) AS BIGINT) AS rrf_micro
      FROM contribs GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, n_lists, rrf_micro,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY rrf_micro DESC, neighbor_id ASC
           ) AS INT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {similarity.TOPK_DEFAULT}
"""

ORACLES["span_dedup_stats"] = f"""
    WITH spans AS (
      SELECT doc_id, {sql_hash60('s')} AS h
      FROM (
        SELECT doc_id,
               unnest({tx.sql_shingles('lower(text)', _q4.SPAN_N)}) AS s
        FROM documents
      )
    ), dup AS (
      SELECT h FROM (SELECT DISTINCT doc_id, h FROM spans)
      GROUP BY h HAVING count(*) >= 2
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(d.h) AS BIGINT) AS n_dup_spans,
           CAST(count(d.h) * 1000000 // count(*) AS BIGINT) AS dup_ppm
    FROM spans s LEFT JOIN dup d ON s.h = d.h
    GROUP BY s.doc_id
"""

_FUNNEL_M = ",\n             ".join(
    f"{sql} AS {name}"
    for name, sql in _q4.sql_funnel_metric_exprs("text").items()
)
ORACLES["quality_filter_funnel"] = f"""
    WITH m AS (
      SELECT {_FUNNEL_M}
      FROM documents
    ), flags AS (
      SELECT (n_words >= {_q4.FUNNEL_MIN_WORDS}) AS f1,
             (3 * n_words <= sum_chars AND sum_chars <= 10 * n_words) AS f2,
             (10 * (n_words - n_distinct) <= 3 * n_words) AS f3,
             (n_stop >= 2) AS f4,
             (10 * n_punct <= n_chars) AS f5
      FROM m
    ), c AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE f1) AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE f1 AND f2) AS BIGINT) AS n2,
             CAST(count(*) FILTER (WHERE f1 AND f2 AND f3) AS BIGINT) AS n3,
             CAST(count(*) FILTER (WHERE f1 AND f2 AND f3 AND f4)
               AS BIGINT) AS n4,
             CAST(count(*) FILTER (WHERE f1 AND f2 AND f3 AND f4 AND f5)
               AS BIGINT) AS n5
      FROM flags
    )
    SELECT 0 AS stage, 'all' AS rule, n0 AS n_pass FROM c
    UNION ALL SELECT 1, 'min_words', n1 FROM c
    UNION ALL SELECT 2, 'word_shape', n2 FROM c
    UNION ALL SELECT 3, 'repetition', n3 FROM c
    UNION ALL SELECT 4, 'stopwords', n4 FROM c
    UNION ALL SELECT 5, 'symbol_ratio', n5 FROM c
"""

ORACLES["dsir_weights"] = f"""
    WITH feats AS (
      SELECT doc_id, lang,
             {sql_hash32('g')} % {_q4.DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, lang,
               unnest({tx.sql_shingles("coalesce(lower(text), '')", 2)})
                 AS g
        FROM documents
      )
    ), bc AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n_raw,
             CAST(count(*) FILTER (WHERE lang = '{_q4.DSIR_TARGET_LANG}')
               AS BIGINT) AS n_tgt
      FROM feats GROUP BY b
    ), tot AS (
      SELECT CAST(sum(n_raw) AS BIGINT) AS t_raw,
             CAST(sum(n_tgt) AS BIGINT) AS t_tgt
      FROM bc
    ), ratios AS (
      SELECT b,
             CAST(round((
               ln((n_tgt + 1)::DOUBLE / (t_tgt + {_q4.DSIR_BUCKETS}))
               - ln((n_raw + 1)::DOUBLE / (t_raw + {_q4.DSIR_BUCKETS}))
             ) * 1000) AS BIGINT) AS lr_milli
      FROM bc CROSS JOIN tot
    )
    SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(lr_milli) AS BIGINT) AS dsir_milli
    FROM feats f JOIN ratios r ON f.b = r.b
    GROUP BY f.doc_id
"""

from genai_batch_processor_spark.operators import clustering as _clu4  # noqa: E402

# SemDeDup: the unrolled k-means training (bit-identical centroids, as
# proven by the kmeans_cells oracle) + a final Euclidean-argmin
# assignment pass, within-cell cosine pairs under the SemDeDup cap,
# recursive-CTE transitive closure, survivors = everyone not a loser.
ORACLES["semdedup_survivors"] = f"""
    WITH RECURSIVE cent_long AS (
      SELECT * FROM ({_clu4.sql_kmeans_cells()})
    ), cent AS (
      SELECT cell, list(c_val ORDER BY dim) AS cv
      FROM cent_long GROUP BY cell
    ), assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cell FROM cent c
              ORDER BY list_dot_product(c.cv, c.cv)
                       - 2 * list_dot_product(e.embedding::DOUBLE[], c.cv),
                       c.cell
              LIMIT 1) AS cell
      FROM embeddings e
    ), ok AS (
      SELECT cell FROM assigned GROUP BY cell
      HAVING count(*) BETWEEN 2 AND {_q4.SEMDEDUP_MAX_CELL}
    ), verified AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b
      FROM assigned x
      JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id
      JOIN ok ON ok.cell = x.cell
      WHERE round({vec.sql_cosine('x.embedding', 'y.embedding')}, 6)
            >= {similarity.NEAR_DUP_COSINE}""" + _EMB_CLOSURE_SQL

# ANN-ingest probe twin: the SAME deterministic training (bit-identical
# centroids via the unrolled kmeans SQL), one argmin assignment of the
# full table, corpus/batch split + offset re-key, combined cell cap,
# old-new probe UNION new-new in-batch pairs — exactly the from-scratch
# union restricted to new-sided pairs the Spark operator produces.
ORACLES["incremental_embedding_near_dup"] = f"""
    WITH cent_long AS (
      SELECT * FROM ({_clu4.sql_kmeans_cells()})
    ), cent AS (
      SELECT cell, list(c_val ORDER BY dim) AS cv
      FROM cent_long GROUP BY cell
    ), allv AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cell FROM cent c
              ORDER BY list_dot_product(c.cv, c.cv)
                       - 2 * list_dot_product(e.embedding::DOUBLE[], c.cv),
                       c.cell
              LIMIT 1) AS cell
      FROM embeddings e
    ), corpus AS (
      SELECT vec_id, embedding, cell FROM allv
    ), batch AS (
      SELECT vec_id + {_q4.INC_DEDUP_OFFSET} AS vec_id, embedding, cell
      FROM allv WHERE vec_id % 10 = 3
    ), counts AS (
      SELECT cell, count(*) AS n FROM (
        SELECT cell FROM corpus UNION ALL SELECT cell FROM batch
      ) GROUP BY cell
    ), ok AS (
      SELECT cell FROM counts WHERE n <= {_q4.SEMDEDUP_MAX_CELL}
    )
    SELECT least(o.vec_id, b.vec_id) AS id_a,
           greatest(o.vec_id, b.vec_id) AS id_b,
           round({vec.sql_cosine('o.embedding', 'b.embedding')}, 6)
             AS cosine
    FROM corpus o
    JOIN batch b ON o.cell = b.cell
    JOIN ok ON ok.cell = o.cell
    WHERE round({vec.sql_cosine('o.embedding', 'b.embedding')}, 6)
          >= {similarity.NEAR_DUP_COSINE}
    UNION ALL
    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           round({vec.sql_cosine('x.embedding', 'y.embedding')}, 6)
             AS cosine
    FROM batch x
    JOIN batch y ON x.cell = y.cell AND x.vec_id < y.vec_id
    JOIN ok ON ok.cell = x.cell
    WHERE round({vec.sql_cosine('x.embedding', 'y.embedding')}, 6)
          >= {similarity.NEAR_DUP_COSINE}
"""

# Streamed union of the ANN-ingest probe == the one-shot probe (the
# micro-batching is an execution detail, not a semantics change).
ORACLES["incremental_embedding_stream"] = ORACLES[
    "incremental_embedding_near_dup"
]

# Ingest-time span-containment probe: the same index/batch derivation
# replayed — corpus span hashes distinct, batch = word-4+ tails of every
# 10th doc re-keyed by the probe offset, LEFT JOIN on the span hash.
ORACLES["incremental_span_dup"] = f"""
    WITH idx AS (
      SELECT DISTINCT {sql_hash60('s')} AS h
      FROM (
        SELECT unnest({tx.sql_shingles('lower(text)', _q4.SPAN_N)}) AS s
        FROM documents
      )
    ), batch AS (
      -- list_append + array_to_string mirrors Spark concat_ws's
      -- ARRAY-flattening exactly: an empty tail contributes nothing
      -- (no leading separator), unlike '' || ' zz' || id which would
      -- produce ' zzN' and hash a different fallback shingle.
      SELECT doc_id + {_q4.INC_DEDUP_OFFSET} AS doc_id,
             array_to_string(
               list_append((string_split(text, ' '))[4:],
                           'zz' || CAST(doc_id AS VARCHAR)), ' ') AS text
      FROM documents WHERE doc_id % 10 = 3
    ), spans AS (
      SELECT doc_id, {sql_hash60('s')} AS h
      FROM (
        SELECT doc_id,
               unnest({tx.sql_shingles('lower(text)', _q4.SPAN_N)}) AS s
        FROM batch
      )
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(i.h) AS BIGINT) AS n_known_spans,
           CAST(count(i.h) * 1000000 // count(*) AS BIGINT) AS known_ppm
    FROM spans s LEFT JOIN idx i ON s.h = i.h
    GROUP BY s.doc_id
"""

# The streamed span probe has NO probe-then-extend (only corpus spans
# count as known), so its union of per-epoch reports must equal the
# one-shot probe exactly — same oracle, like the other stream twins.
ORACLES["incremental_span_dup_stream"] = ORACLES["incremental_span_dup"]

from genai_batch_processor_spark.operators import sampling as _smp4  # noqa: E402

# Split-leakage audit: the verified near-dup pair SQL labeled with the
# same pure-hash split assignment, aggregated per split pair.
ORACLES["split_leakage"] = f"""
    WITH p AS (
      SELECT id_a, id_b FROM ({ORACLES["near_dup_pairs"]})
    ), labeled AS (
      SELECT {_smp4.sql_assign_split('id_a')} AS split_a,
             {_smp4.sql_assign_split('id_b')} AS split_b
      FROM p
    )
    SELECT split_a, split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(split_a <> split_b AS INT) AS is_leak
    FROM labeled GROUP BY split_a, split_b
"""

# -- round 5: estimator calibration, chunk dedup, token fertility ------------

ORACLES["minhash_calibration"] = _MINHASH_BASE + f"""
    , scored AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(x.hs, y.hs)) AS inter,
             len(list_distinct(x.hs || y.hs)) AS un,
             len(list_filter(range(1, {dedup.MINHASH_K} + 1),
                             i -> sx.sig[i] = sy.sig[i])) AS m
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
      JOIN sig sx ON sx.doc_id = c.id_a
      JOIN sig sy ON sy.doc_id = c.id_b
    ), milli AS (
      SELECT inter * 1000 // un AS true_milli,
             m * 1000 // {dedup.MINHASH_K} AS est_milli
      FROM scored
    )
    SELECT CAST(est_milli // 100 AS INT) AS est_decile,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(true_milli) // count(*) AS BIGINT) AS mean_true_milli,
           CAST(sum(est_milli) // count(*) AS BIGINT) AS mean_est_milli
    FROM milli GROUP BY est_decile
"""

ORACLES["chunk_dedup_stats"] = f"""
    WITH ch AS (
      {_chk.sql_chunk_documents()}
    ), h AS (
      SELECT doc_id, {sql_hash60('chunk_text')} AS h FROM ch
    ), c AS (
      SELECT doc_id, count(*) OVER (PARTITION BY h) AS n_copies FROM h
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS dup_ppm
    FROM c JOIN documents d USING (doc_id)
    GROUP BY d.source
"""

ORACLES["token_fertility"] = f"""
    WITH per AS (
      SELECT lang,
             CAST({tx.sql_token_count('text')} AS BIGINT) AS t,
             CAST(length(text) AS BIGINT) AS c
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS sum_tokens,
           CAST(sum(c) AS BIGINT) AS sum_chars,
           CAST(sum(c) * 1000 // nullif(sum(t), 0) AS BIGINT)
             AS chars_per_token_milli
    FROM per GROUP BY lang
"""

ORACLES["eval_decontamination"] = f"""
    WITH p AS (
      SELECT id_a, id_b FROM ({ORACLES["near_dup_pairs"]})
    ), lp AS (
      SELECT id_a, id_b,
             {_smp4.sql_assign_split('id_a')} AS sa,
             {_smp4.sql_assign_split('id_b')} AS sb
      FROM p
    ), ev AS (
      SELECT id_a AS doc_id FROM lp WHERE sa <> 'train' AND sb = 'train'
      UNION
      SELECT id_b AS doc_id FROM lp WHERE sb <> 'train' AND sa = 'train'
    ), d AS (
      SELECT doc_id, {_smp4.sql_assign_split('doc_id')} AS split
      FROM documents
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ev.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_evicted,
           CAST(count(*) - sum(CASE WHEN ev.doc_id IS NOT NULL THEN 1
                ELSE 0 END) AS BIGINT) AS n_kept
    FROM d LEFT JOIN ev USING (doc_id)
    GROUP BY split
"""


# ---- BPE token accounting (r10 verdict item 3) --------------------------
# The oracle replays the committed recorded-count relation
# (functions/bpe_counts.parquet), generated by tools/gen_bpe_fixtures.py's
# INDEPENDENT Sennrich-formulation encoder from the same committed merges
# table — so a green row means two different BPE implementations agree on
# every document, joined on md5(text) (text-keyed, not doc_id-keyed, so
# the same relation serves every sf fixture).
from genai_batch_processor_spark.functions import bpe as _bpe  # noqa: E402
from genai_batch_processor_spark import queries as _qbpe  # noqa: E402

_BPE_COUNTS_PATH = _bpe.MERGES_PATH.replace(
    "bpe_merges.json", "bpe_counts.parquet"
)

# LEFT JOIN + per-row error(): if the testdata fixtures are regenerated
# without rerunning tools/gen_bpe_fixtures.py, unmatched documents must
# fail LOUDLY naming the stale relation — an inner join would silently
# drop them and surface as opaque row-count/quantile mismatches instead
# (r11 ADVICE).
_BPE_STALE_MSG = (
    "bpe_counts.parquet stale (document text not in the recorded BPE "
    "relation); rerun tools/gen_bpe_fixtures.py"
)

_BPE_SIZED = f"""
  sized AS (
    SELECT d.doc_id, d.lang, d.source,
           CASE WHEN l.text_md5 IS NULL
                THEN CAST(error('{_BPE_STALE_MSG}') AS BIGINT)
                ELSE l.n_bpe_tokens END AS n_bpe_tokens
    FROM documents d
    LEFT JOIN read_parquet('{_BPE_COUNTS_PATH}') l
      ON md5(d.text) = l.text_md5
  )
"""

ORACLES["bpe_token_counts"] = f"""
    WITH {_BPE_SIZED},
    words AS (
      SELECT doc_id, {tx.sql_token_count('text')} AS n_words
      FROM documents
    )
    SELECT s.doc_id, s.lang,
           CAST(s.n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
           CAST(w.n_words AS BIGINT) AS n_words,
           CAST(s.n_bpe_tokens * 1000 // nullif(w.n_words, 0) AS BIGINT)
             AS fertility_milli
    FROM sized s JOIN words w USING (doc_id)
"""


ORACLES["mixture_plan_bpe"] = f"""
    WITH {_BPE_SIZED},
    plan AS (
      SELECT source,
             CAST(sum(n_bpe_tokens) AS BIGINT) AS available_tokens,
             {_mix_target_sql(_qbpe.BPE_MIX_TOKEN_BUDGET)} AS target_tokens,
             least(
               CAST(1000000 AS BIGINT),
               CAST(CAST({_mix_target_sql(_qbpe.BPE_MIX_TOKEN_BUDGET)}
                         AS HUGEINT) * 1000000
                    // sum(n_bpe_tokens) AS BIGINT)
             ) AS rate_ppm
      FROM sized GROUP BY source
    )
    SELECT source, available_tokens, target_tokens, rate_ppm FROM plan
"""

ORACLES["length_buckets_bpe"] = f"""
    WITH {_BPE_SIZED},
    t_sized AS (
      SELECT n_bpe_tokens AS t FROM sized
    ), th AS (
      SELECT quantile_cont(t, 0.25) AS q1,
             quantile_cont(t, 0.50) AS q2,
             quantile_cont(t, 0.75) AS q3
      FROM t_sized
    ), bucketed AS (
      SELECT t,
             CAST(CASE WHEN t <= q1 THEN 0
                       WHEN t <= q2 THEN 1
                       WHEN t <= q3 THEN 2
                       ELSE 3 END AS INT) AS bucket
      FROM t_sized CROSS JOIN th
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(t) AS BIGINT) AS max_tokens,
           CAST(max(t) * count(*) - sum(t) AS BIGINT) AS padding_tokens
    FROM bucketed GROUP BY bucket
"""

# chunk_packing re-keyed on BPE tokens (r11 verdict item 1): chunk
# geometry comes from the operator-owned SQL twin; per-chunk token
# counts replay the recorded relation keyed on md5(chunk_text), with
# the same loud staleness guard as _BPE_SIZED.
ORACLES["chunk_packing_bpe"] = f"""
    WITH chunks AS (
      {_chk.sql_chunk_documents()}
    ), csized AS (
      SELECT c.doc_id, c.chunk_idx, d.source,
             CASE WHEN l.text_md5 IS NULL
                  THEN CAST(error('{_BPE_STALE_MSG}') AS BIGINT)
                  ELSE l.n_bpe_tokens END AS n_bpe
      FROM chunks c
      JOIN documents d USING (doc_id)
      LEFT JOIN read_parquet('{_BPE_COUNTS_PATH}') l
        ON md5(c.chunk_text) = l.text_md5
    ), binned AS (
      SELECT source,
             CAST(floor((sum(n_bpe) OVER w - n_bpe)
                        / {_chk.PACK_BUDGET_BPE}) AS BIGINT) AS bin,
             n_bpe
      FROM csized
      WINDOW w AS (
        PARTITION BY source ORDER BY doc_id, chunk_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_bpe) AS BIGINT) AS packed_tokens,
           CAST(sum(n_bpe) AS DOUBLE) / {_chk.PACK_BUDGET_BPE}.0
             AS fill_ratio
    FROM binned
    GROUP BY source, bin
"""

# Tokenizer compression rate per language: bytes per BPE token in
# integer milli, replayed from the recorded relation.
ORACLES["bpe_compression"] = f"""
    WITH {_BPE_SIZED},
    b AS (
      SELECT d.lang,
             octet_length(encode(d.text)) AS n_bytes,
             s.n_bpe_tokens
      FROM sized s JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_bytes) * 1000 // sum(n_bpe_tokens) AS BIGINT)
             AS bytes_per_token_milli
    FROM b GROUP BY lang
"""

# Streaming twin of the per-lang BPE accounting: the availableNow
# drain's final complete-mode snapshot must equal the batch per-lang
# totals — same recorded relation.
ORACLES["bpe_token_counts_stream"] = f"""
    WITH {_BPE_SIZED}
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens
    FROM sized GROUP BY lang
"""

# request_cost_estimate re-keyed on BPE tokens (r11 verdict item 1):
# same hash routing and integer nano-USD arithmetic as the word twin;
# prompt token counts replay the recorded relation keyed on the md5 of
# the rebuilt prompt text (shared CLASSIFY_TEMPLATE constant).
ORACLES["request_cost_bpe"] = f"""
    WITH prices(model, in_per_1k, out_per_1k) AS (
      VALUES {_PRICE_ROWS}
    ), routed AS (
      SELECT {_MODEL_ARR}[
               ({sql_hash32('CAST(d.doc_id AS VARCHAR)')} % 3)::INT + 1
             ] AS model,
             CASE WHEN l.text_md5 IS NULL
                  THEN CAST(error('{_BPE_STALE_MSG}') AS BIGINT)
                  ELSE l.n_bpe_tokens END AS n_tokens
      FROM documents d
      LEFT JOIN read_parquet('{_BPE_COUNTS_PATH}') l
        ON md5({_prompt_sql('d.text')}) = l.text_md5
    )
    SELECT model,
           CAST(count(*) AS BIGINT) AS n_requests,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_tokens * in_per_1k) AS BIGINT)
             AS input_cost_nano_usd
    FROM routed JOIN prices USING (model)
    GROUP BY model
"""

# Token-budgeted shard planning (r12 verdict item 2): same prefix-floor
# arithmetic as the batch_shards oracle, extended with the token
# dimension replayed from the recorded independent-encoder relation
# (loud staleness guard as everywhere in the BPE family).
ORACLES["batch_shards_tokens"] = f"""
    WITH base AS (
      SELECT d.doc_id, {IDX} AS idx, strlen(d.text) AS n_bytes,
             CASE WHEN l.text_md5 IS NULL
                  THEN CAST(error('{_BPE_STALE_MSG}') AS BIGINT)
                  ELSE l.n_bpe_tokens END AS n_tokens
      FROM documents d
      LEFT JOIN read_parquet('{_BPE_COUNTS_PATH}') l
        ON md5(d.text) = l.text_md5
    ), c AS (
      SELECT *,
             COALESCE(sum(n_bytes) OVER w, 0) AS cumb,
             COALESCE(sum(n_tokens) OVER w, 0) AS cumt
      FROM base
      WINDOW w AS (
        ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
      )
    ), b AS (
      -- budget = cap - max row per dimension (strict-cap guarantee)
      SELECT *,
             (cumb // ({_qbpe.SHARD_TOK_MAX_BYTES}
                       - (SELECT max(n_bytes) FROM base))) AS byte_shard,
             (cumt // ({_qbpe.SHARD_TOK_MAX_TOKENS}
                       - (SELECT max(n_tokens) FROM base))) AS token_shard
      FROM c
    ), ln AS (
      SELECT *,
             (row_number() OVER (
                PARTITION BY byte_shard, token_shard ORDER BY idx) - 1)
               // {_qbpe.SHARD_TOK_MAX_LINES} AS line_shard
      FROM b
    )
    SELECT doc_id,
           CAST(idx AS BIGINT) AS idx,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(byte_shard AS BIGINT) AS byte_shard,
           CAST(token_shard AS BIGINT) AS token_shard,
           CAST(line_shard AS BIGINT) AS line_shard,
           printf('shard-%05d-%05d-%03d', CAST(byte_shard AS INT),
                  CAST(token_shard AS INT), CAST(line_shard AS INT))
             AS shard_key
    FROM ln
"""

# The governed-tokenizer loop (r12 verdict item 1): the v2 relation was
# recorded by the independent Sennrich encoder under the 384-merge v2
# table the engine LOADS through its verifying loader — agreement here
# closes train -> persist -> load -> encode -> oracle. Document texts
# check the Zipf-frequent path; classification prompts check the
# deep-subword-split path (template words are outside the v2 corpus).
_BPE_COUNTS_V2_PATH = _bpe.MERGES_PATH.replace(
    "bpe_merges.json", "bpe_counts_v2.parquet"
)
_BPE_V2_STALE_MSG = (
    "bpe_counts_v2.parquet stale (text not in the recorded v2 BPE "
    "relation); rerun tools/gen_bpe_fixtures.py"
)

ORACLES["bpe_loaded_tokenizer"] = f"""
    WITH two_tables AS (
      SELECT d.doc_id, d.lang,
             CASE WHEN l2.text_md5 IS NULL
                  THEN CAST(error('{_BPE_V2_STALE_MSG}') AS BIGINT)
                  ELSE l2.n_bpe_tokens END AS n_tokens_v2,
             CASE WHEN p2.text_md5 IS NULL
                  THEN CAST(error('{_BPE_V2_STALE_MSG}') AS BIGINT)
                  ELSE p2.n_bpe_tokens END AS n_prompt_tokens_v2,
             CASE WHEN l1.text_md5 IS NULL
                  THEN CAST(error('{_BPE_STALE_MSG}') AS BIGINT)
                  ELSE l1.n_bpe_tokens END AS n_tokens_v1
      FROM documents d
      LEFT JOIN read_parquet('{_BPE_COUNTS_V2_PATH}') l2
        ON md5(d.text) = l2.text_md5
      LEFT JOIN read_parquet('{_BPE_COUNTS_V2_PATH}') p2
        ON md5({_prompt_sql('d.text')}) = p2.text_md5
      LEFT JOIN read_parquet('{_BPE_COUNTS_PATH}') l1
        ON md5(d.text) = l1.text_md5
    )
    SELECT doc_id, lang,
           CAST(n_tokens_v2 AS BIGINT) AS n_tokens_v2,
           CAST(n_prompt_tokens_v2 AS BIGINT) AS n_prompt_tokens_v2,
           CAST(n_tokens_v1 AS BIGINT) AS n_tokens_v1,
           CAST(n_tokens_v2 * 1000 // nullif(n_tokens_v1, 0) AS BIGINT)
             AS v2_vs_v1_milli
    FROM two_tables
"""
