"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory over the driver's
deterministic test tables; each entry has a DuckDB oracle in ``oracle_sql()``
(row-count + schema + order-insensitive value-hash at sf0.01).

The inverted-index/BM25 engine itself (deusu_spark.build / deusu_spark.query)
is validated by the pytest suite against a pure-Python oracle
(tests/test_rank_identity.py) because its input is the synthetic transcript
corpus, not these tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from deusu_spark import pipelines


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: binary-TF BM25 top-k retrieval composed from tokenize →
    postings → df/idf → score → top-k, all with built-in DataFrame ops."""
    return pipelines.q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the round driver oracle-checks a prefix window of
    # this dict (50 entries in round 3), so the FIRST 50 keys must stay the
    # engine + dedup/LLM-pipeline core. New batches append AFTER these; the
    # pinned set lives in tests/test_entry.py::test_driver_window_core_first
    # — update both together, never push core ops out of the window.
    return dict(pipelines.QUERIES)


_TOK = (
    "SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t "
    "FROM documents"
)
_TOKS = f"SELECT doc_id, t FROM ({_TOK}) WHERE t <> ''"
_DTOKS = f"SELECT DISTINCT doc_id, t FROM ({_TOK}) WHERE t <> ''"
_ARR = (
    "SELECT doc_id, text, "
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS a "
    "FROM documents"
)
_SHINGLES = (
    f"SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS sh "
    f"FROM (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i "
    f"      FROM ({_ARR}) WHERE len(a) >= 3 AND doc_id < {{maxdoc}})"
)

# MinHash-LSH candidate pairs as reusable CTEs (minhash_band_candidates and
# the dedup_clusters connected-components oracle share them verbatim)
_MINHASH_PAIR_CTES = f"""sh AS ({_SHINGLES.format(maxdoc=300)}),
                 sig AS (SELECT doc_id,
                                min(md5('s0:' || sh)) AS h0,
                                min(md5('s1:' || sh)) AS h1,
                                min(md5('s2:' || sh)) AS h2,
                                min(md5('s3:' || sh)) AS h3
                         FROM sh GROUP BY doc_id),
                 bands AS (
                     SELECT doc_id, 'b0:' || h0 AS band FROM sig
                     UNION ALL SELECT doc_id, 'b1:' || h1 FROM sig
                     UNION ALL SELECT doc_id, 'b2:' || h2 FROM sig
                     UNION ALL SELECT doc_id, 'b3:' || h3 FROM sig),
                 pairs AS (
                     SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM bands a JOIN bands b
                       ON a.band = b.band AND a.doc_id < b.doc_id)"""


def _simhash_sql() -> str:
    from deusu_spark.pipelines import (
        SIMHASH_BITS,
        _hex15_to_long_sql,
        simhash_select_sql,
    )

    h_expr = _hex15_to_long_sql("strpos", "h16")
    return f"""
        WITH th AS (
            SELECT doc_id, {h_expr} AS h FROM (
                SELECT doc_id, substr(md5(t), 1, 15) AS h16
                FROM ({_DTOKS}) WHERE doc_id < 100))
        SELECT doc_id, {simhash_select_sql('strpos', SIMHASH_BITS)} AS simhash
        FROM th GROUP BY doc_id ORDER BY doc_id
    """


def _dsir_sql() -> str:
    from deusu_spark.pipelines import (
        DSIR_BUCKETS,
        DSIR_TARGET_MAXDOC,
        _hex15_to_long_sql,
    )

    h_expr = _hex15_to_long_sql("strpos", "h16")
    k = DSIR_BUCKETS
    md = DSIR_TARGET_MAXDOC
    return f"""
        WITH tok AS (
            SELECT doc_id, ({h_expr} % {k}) AS b FROM (
                SELECT doc_id, substr(md5(t), 1, 15) AS h16
                FROM ({_TOKS}))),
             raw AS (SELECT b, count(*) AS cr FROM tok GROUP BY b),
             tgt AS (SELECT b, count(*) AS ct FROM tok
                     WHERE doc_id < {md} GROUP BY b),
             tot AS (SELECT (SELECT count(*) FROM tok) AS tr,
                            (SELECT count(*) FROM tok WHERE doc_id < {md}) AS tt),
             ratio AS (
                 SELECT raw.b,
                        ln(((coalesce(ct, 0) + 1) * 1.0 / (tt + {k})) /
                           ((cr + 1) * 1.0 / (tr + {k}))) AS lr
                 FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot)
        SELECT doc_id, count(*) AS n_tokens,
               round(sum(lr), 5) AS dsir_logweight
        FROM tok JOIN ratio USING (b)
        GROUP BY doc_id ORDER BY doc_id
    """


def _simhash_near_dup_sql() -> str:
    from deusu_spark.pipelines import (
        SIMHASH_BAND_BITS,
        SIMHASH_BANDS,
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
        _hex15_to_long_sql,
        simhash_hamming_sql,
        simhash_select_sql,
    )

    h_expr = _hex15_to_long_sql("strpos", "h16")
    band_sel = "\n                 UNION ALL ".join(
        f"SELECT doc_id, 'b{b}:' || substr(simhash, "
        f"{1 + b * SIMHASH_BAND_BITS}, {SIMHASH_BAND_BITS}) AS band FROM s"
        for b in range(SIMHASH_BANDS)
    )
    ham = simhash_hamming_sql("sa.simhash", "sb.simhash")
    return f"""
        WITH th AS (
            SELECT doc_id, {h_expr} AS h FROM (
                SELECT doc_id, substr(md5(t), 1, 15) AS h16
                FROM ({_DTOKS}) WHERE doc_id < 100)),
             s AS (SELECT doc_id,
                          {simhash_select_sql('strpos', SIMHASH_BITS)} AS simhash
                   FROM th GROUP BY doc_id),
             bands AS ({band_sel}),
             pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                       FROM bands a JOIN bands b
                         ON a.band = b.band AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST({ham} AS INTEGER) AS hamming
        FROM pairs
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b
        WHERE {ham} <= {SIMHASH_MAX_HAMMING}
        ORDER BY doc_a, doc_b
    """


def _ann_lsh_sql() -> str:
    """DuckDB recomputes the identical md5-parity hyperplanes in pure SQL
    (dim-agnostic), so the banded-LSH candidate pairs are fully
    oracle-checked. Sign comparison is float-order-robust except for dot
    products within ~1e-13 of zero (probability ~0 on real data)."""
    from deusu_spark.pipelines import ANN_BAND_SIZE, ANN_PLANES

    parity = (
        "CASE WHEN (strpos('0123456789abcdef', substr(md5('h' || p || ':' || i), 1, 1)) - 1) % 2 = 1 "
        "THEN 1.0 ELSE -1.0 END"
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
             ex AS (SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
                    FROM e, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)),
             bits AS (SELECT vec_id, p,
                             CASE WHEN sum(x * {parity}) > 0
                                  THEN '1' ELSE '0' END AS bit
                      FROM ex, LATERAL (SELECT unnest(range(0, {ANN_PLANES})) AS p)
                      GROUP BY vec_id, p),
             sig AS (SELECT vec_id, CAST(p // {ANN_BAND_SIZE} AS INT) AS bd,
                            string_agg(bit, '' ORDER BY p) AS s
                     FROM bits GROUP BY vec_id, p // {ANN_BAND_SIZE}),
             bands AS (SELECT vec_id, 'b' || bd || ':' || s AS band FROM sig)
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.vec_id < b.vec_id
        ORDER BY vec_a, vec_b
    """


def _ann_ivf_sql() -> str:
    """DuckDB twin of the IVF ANN query: identical sampled centroids
    (vec_id < K), identical rounded-cosine assignment (ties -> lowest cell,
    matching Spark's first-max array_position), identical probe set and
    in-cell brute force."""
    from deusu_spark.pipelines import IVF_K, IVF_NPROBE

    dot = (
        "(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) "
        "FROM (SELECT unnest({a}) AS x, unnest({b}) AS y))"
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding,
                          sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                                FROM (SELECT unnest(embedding) AS x))) AS nrm
                   FROM embeddings),
             cents AS (SELECT vec_id AS cell, embedding AS cemb, nrm AS cnrm
                       FROM e WHERE vec_id < {IVF_K}),
             sims AS (SELECT e.vec_id, c.cell,
                             round({dot.format(a='e.embedding', b='c.cemb')}
                                   / (e.nrm * c.cnrm), 4) AS sim
                      FROM e CROSS JOIN cents c),
             assigned AS (SELECT vec_id, cell FROM (
                            SELECT vec_id, cell,
                                   row_number() OVER (PARTITION BY vec_id
                                       ORDER BY sim DESC, cell) AS rn
                            FROM sims) WHERE rn = 1),
             probe AS (SELECT cell FROM sims WHERE vec_id = 0
                       ORDER BY sim DESC, cell LIMIT {IVF_NPROBE}),
             q AS (SELECT embedding AS qemb, nrm AS qnrm FROM e WHERE vec_id = 0)
        SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
               round({dot.format(a='e.embedding', b='q.qemb')}
                     / (e.nrm * q.qnrm), 4) AS cos_sim
        FROM assigned a JOIN e ON e.vec_id = a.vec_id CROSS JOIN q
        WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0
        ORDER BY cos_sim DESC, a.vec_id LIMIT 15
    """


def _chunk_windows_sql() -> str:
    from deusu_spark.pipelines import CHUNK_S, CHUNK_W

    return f"""
        WITH a AS (SELECT doc_id, a FROM ({_ARR})
                   WHERE doc_id < 150 AND len(a) > 0),
             s AS (SELECT doc_id, a, unnest(range(0, len(a), {CHUNK_S})) AS start
                   FROM a)
        SELECT doc_id, CAST(start // {CHUNK_S} AS INTEGER) AS chunk_idx,
               CAST(len(list_slice(a, start + 1, start + {CHUNK_W}))
                    AS INTEGER) AS n_chunk,
               array_to_string(list_slice(a, start + 1, start + {CHUNK_W}), ' ')
                   AS chunk_text
        FROM s ORDER BY doc_id, chunk_idx
    """


def _train_val_split_sql() -> str:
    hx = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
    return f"""
        WITH h AS (SELECT doc_id, md5('split:' || doc_id) AS h
                   FROM documents WHERE doc_id < 150),
             b AS (SELECT doc_id,
                          CAST((({hx.format(i=1)}) * 16 + ({hx.format(i=2)})) % 10
                               AS INTEGER) AS bucket
                   FROM h)
        SELECT doc_id, bucket,
               CASE WHEN bucket = 0 THEN 'val' ELSE 'train' END AS split
        FROM b ORDER BY doc_id
    """


def _pack_sequences_sql() -> str:
    from deusu_spark.pipelines import PACK_CAP, PACK_SHARD

    return f"""
        WITH a AS (SELECT doc_id, a FROM ({_ARR}) WHERE doc_id < 150),
             x AS (SELECT doc_id, CAST(doc_id // {PACK_SHARD} AS INTEGER) AS shard,
                          CAST(len(a) AS INTEGER) AS n_tokens FROM a)
        SELECT doc_id, shard, n_tokens,
               CAST((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) // {PACK_CAP} AS INTEGER) AS bin
        FROM x ORDER BY doc_id
    """


def _decontaminate_sql() -> str:
    from deusu_spark.pipelines import DECON_EVAL_MOD, DECON_N

    gram = " || ' ' || ".join(f"a[i+{j}]" for j in range(DECON_N))
    return f"""
        WITH a AS (SELECT doc_id, a FROM ({_ARR})
                   WHERE doc_id < 300 AND len(a) >= {DECON_N}),
             g AS (SELECT DISTINCT doc_id, {gram} AS g
                   FROM (SELECT doc_id, a,
                                unnest(range(1, len(a) - {DECON_N - 2})) AS i
                         FROM a)),
             ev AS (SELECT DISTINCT g FROM g
                    WHERE doc_id % {DECON_EVAL_MOD} = 0),
             tr AS (SELECT * FROM g WHERE doc_id % {DECON_EVAL_MOD} <> 0),
             sz AS (SELECT doc_id, count(*) AS n_grams FROM tr
                    GROUP BY doc_id),
             ov AS (SELECT doc_id, count(*) AS n_overlap
                    FROM tr JOIN ev USING (g) GROUP BY doc_id)
        SELECT ov.doc_id, n_overlap, n_grams,
               round(n_overlap * 1.0 / n_grams, 5) AS contam_frac
        FROM ov JOIN sz USING (doc_id) ORDER BY ov.doc_id
    """


def _repetition_signals_sql() -> str:
    return f"""
        WITH a AS (SELECT doc_id, a FROM ({_ARR})
                   WHERE doc_id < 150 AND len(a) >= 2),
             bg AS (SELECT doc_id, a[i] || ' ' || a[i+1] AS bg
                    FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i
                          FROM a)),
             bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg
                     GROUP BY doc_id, bg),
             bga AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg
                     FROM bgc GROUP BY doc_id),
             t AS (SELECT doc_id, CAST(len(a) AS INTEGER) AS n_tokens,
                          len(list_distinct(a)) AS n_distinct
                   FROM a)
        SELECT t.doc_id, n_tokens,
               round(1.0 - n_distinct * 1.0 / n_tokens, 5) AS dup_word_frac,
               round(top_bg * 1.0 / n_bg, 5) AS top_bigram_frac
        FROM t JOIN bga USING (doc_id) ORDER BY t.doc_id
    """


def _stratified_sample_sql() -> str:
    from deusu_spark.pipelines import SAMPLE_PCT

    hx = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
    case = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {p}"
        for lang, p in sorted(SAMPLE_PCT.items())
    ) + " ELSE 100 END"
    return f"""
        WITH h AS (SELECT doc_id, lang,
                          md5('samp:' || doc_id) AS h FROM documents),
             v AS (SELECT doc_id, lang,
                          (({hx.format(i=1)}) * 16 + ({hx.format(i=2)})) % 100
                              AS hv,
                          {case} AS keep_pct
                   FROM h)
        SELECT doc_id, lang FROM v WHERE hv < keep_pct ORDER BY doc_id
    """


def _corpus_shuffle_sql() -> str:
    return """
        WITH h AS (SELECT doc_id, md5('shuf:' || doc_id) AS h
                   FROM documents WHERE doc_id < 150),
             s AS (SELECT doc_id, h,
                          CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1
                               AS INTEGER) AS shard
                   FROM h)
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                    AS INTEGER) AS pos
        FROM s ORDER BY shard, pos
    """


def _lang_id_sql() -> str:
    from deusu_spark.pipelines import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    hit_cols = ", ".join(
        "len(list_filter(a, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        + f"], x))) AS hits_{lang}"
        for lang in langs
    )
    cases = []
    for lang in langs:
        conds = [f"hits_{lang} > 0"]
        for other in langs:
            if other != lang:
                op = ">=" if other > lang else ">"
                conds.append(f"hits_{lang} {op} hits_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    hits_sel = ", ".join(f"hits_{lang}" for lang in langs)
    return f"""
        WITH h AS (SELECT doc_id, {hit_cols} FROM ({_ARR}) WHERE doc_id < 150)
        SELECT doc_id, {hits_sel}, {case} AS pred_lang FROM h ORDER BY doc_id
    """


def _pii_redact_sql() -> str:
    from deusu_spark.pipelines import PII_EMAIL, PII_IPV4, PII_PHONE

    # the patterns contain regex braces — keep them out of f-strings
    planted = (
        "SELECT doc_id, lower(text) || ' contact u' "
        "|| CAST(doc_id AS VARCHAR) || '@mail.example.org' "
        "|| ' or +49 555 ' || lpad(CAST(doc_id AS VARCHAR), 4, '0') "
        "|| ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.7' AS planted "
        "FROM documents WHERE doc_id < 150"
    )
    return (
        "WITH p AS (" + planted + ") SELECT doc_id, "
        "CAST(len(regexp_extract_all(planted, '" + PII_EMAIL + "')) AS INTEGER)"
        " AS n_emails, "
        "CAST(len(regexp_extract_all(planted, '" + PII_PHONE + "')) AS INTEGER)"
        " AS n_phones, "
        "CAST(len(regexp_extract_all(planted, '" + PII_IPV4 + "')) AS INTEGER)"
        " AS n_ips, "
        "regexp_replace(regexp_replace(regexp_replace(planted, '"
        + PII_EMAIL + "', '<EMAIL>', 'g'), '"
        + PII_PHONE + "', '<PHONE>', 'g'), '"
        + PII_IPV4 + "', '<IP>', 'g') AS redacted "
        "FROM p ORDER BY doc_id"
    )


def _unigram_logprob_sql() -> str:
    return f"""
        WITH toks AS (SELECT doc_id, t FROM ({_TOKS}) WHERE doc_id < 300),
             model AS (SELECT t, count(*) AS cnt FROM toks GROUP BY t),
             tot AS (SELECT sum(cnt) AS s FROM model)
        SELECT doc_id, count(*) AS n_tokens,
               round(avg(ln(cnt / s)), 5) AS logprob
        FROM toks JOIN model USING (t), tot
        WHERE doc_id < 150 GROUP BY doc_id ORDER BY doc_id
    """


def _semdedup_sql() -> str:
    """DuckDB twin of SemDeDup: identical sampled centroids (vec_id < K),
    identical rounded-cosine assignment (ties -> lowest cell), identical
    within-cell pair prune with lowest-id-wins keep policy."""
    from deusu_spark.pipelines import IVF_K, SEMDEDUP_T

    dot = (
        "(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) "
        "FROM (SELECT unnest({a}) AS x, unnest({b}) AS y))"
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding,
                          sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                                FROM (SELECT unnest(embedding) AS x))) AS nrm
                   FROM embeddings),
             cents AS (SELECT vec_id AS cell, embedding AS cemb, nrm AS cnrm
                       FROM e WHERE vec_id < {IVF_K}),
             sims AS (SELECT e.vec_id, c.cell,
                             round({dot.format(a='e.embedding', b='c.cemb')}
                                   / (e.nrm * c.cnrm), 4) AS sim
                      FROM e CROSS JOIN cents c),
             assigned AS (SELECT vec_id, cell FROM (
                            SELECT vec_id, cell,
                                   row_number() OVER (PARTITION BY vec_id
                                       ORDER BY sim DESC, cell) AS rn
                            FROM sims) WHERE rn = 1),
             dup AS (SELECT b.vec_id AS vb, min(a.vec_id) AS dup_of
                     FROM assigned a JOIN assigned b
                       ON a.cell = b.cell AND a.vec_id < b.vec_id
                     JOIN e ea ON ea.vec_id = a.vec_id
                     JOIN e eb ON eb.vec_id = b.vec_id
                     WHERE round({dot.format(a='ea.embedding', b='eb.embedding')}
                                 / (ea.nrm * eb.nrm), 4) >= {SEMDEDUP_T}
                     GROUP BY b.vec_id)
        SELECT e.vec_id, CAST(asg.cell AS INTEGER) AS cell,
               dup.dup_of IS NULL AS keep, dup.dup_of
        FROM e JOIN assigned asg ON asg.vec_id = e.vec_id
        LEFT JOIN dup ON dup.vb = e.vec_id
        ORDER BY e.vec_id
    """


def _ccnet_buckets_sql() -> str:
    from deusu_spark.pipelines import CCNET_PARTS

    return f"""
        WITH toks AS (SELECT doc_id, t FROM ({_TOKS})),
             model AS (SELECT t, count(*) AS cnt FROM toks GROUP BY t),
             tot AS (SELECT sum(cnt) AS s FROM model),
             lp AS (SELECT doc_id, round(avg(ln(cnt / s)), 5) AS logprob
                    FROM toks JOIN model USING (t), tot GROUP BY doc_id),
             n AS (SELECT d.doc_id, d.lang, lp.logprob,
                          ntile({CCNET_PARTS}) OVER (PARTITION BY d.lang
                              ORDER BY lp.logprob DESC, d.doc_id) AS part
                   FROM documents d JOIN lp ON lp.doc_id = d.doc_id)
        SELECT doc_id, lang, logprob,
               CASE part WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM n ORDER BY doc_id
    """


def _bucket_checksum_sql() -> str:
    from deusu_spark.pipelines import CKSUM_BUCKETS, CKSUM_MOD, _hex15_to_long_sql

    rh = _hex15_to_long_sql("strpos", "rh16")
    kh = _hex15_to_long_sql("strpos", "kh16")
    return f"""
        WITH h AS (SELECT substr(md5('r:' || concat_ws('|', l_orderkey,
                              l_partkey, l_suppkey, l_linenumber,
                              l_returnflag, l_linestatus)), 1, 15) AS rh16,
                          substr(md5('b:' || concat_ws(':', l_orderkey,
                              l_linenumber)), 1, 15) AS kh16
                   FROM lineitem),
             v AS (SELECT ({kh} % {CKSUM_BUCKETS}) AS bucket,
                          ({rh} % {CKSUM_MOD}) AS rv
                   FROM h)
        SELECT bucket, count(*) AS n_rows, sum(rv) AS checksum
        FROM v GROUP BY bucket ORDER BY bucket
    """


def _containment_pairs_sql() -> str:
    from deusu_spark.pipelines import CONTAIN_T

    return f"""
        WITH sh AS ({_SHINGLES.format(maxdoc=300)}),
             sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
             inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                              count(*) AS n_inter
                       FROM sh a JOIN sh b
                         ON a.sh = b.sh AND a.doc_id <> b.doc_id
                       GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_inter, sz.sz AS sz_a,
               round(n_inter * 1.0 / sz.sz, 5) AS containment
        FROM inter JOIN sz ON sz.doc_id = inter.doc_a
        WHERE round(n_inter * 1.0 / sz.sz, 5) >= {CONTAIN_T}
        ORDER BY doc_a, doc_b
    """


def _zorder_layout_sql() -> str:
    from deusu_spark.pipelines import ZORDER_BITS, _zquant_sql, _zvalue_sql

    z = _zvalue_sql(
        _zquant_sql(
            "l_partkey",
            "(SELECT min(l_partkey) FROM lineitem)",
            "(SELECT max(l_partkey) FROM lineitem)",
        ),
        _zquant_sql(
            "l_suppkey",
            "(SELECT min(l_suppkey) FROM lineitem)",
            "(SELECT max(l_suppkey) FROM lineitem)",
        ),
    )
    shift = 2 * ZORDER_BITS - 6
    return f"""
        SELECT ({z} >> {shift}) AS zbucket,
               count(*) AS n_rows,
               min(l_partkey) AS min_part, max(l_partkey) AS max_part,
               min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
        FROM lineitem GROUP BY 1 ORDER BY 1
    """


def _spatial_join_sql() -> str:
    from deusu_spark.pipelines import GEO_CELL, _hex15_to_long_sql

    def coords(tbl, key, a, b):
        return f"""
            SELECT {key},
                   ({_hex15_to_long_sql("strpos", "h_lat")} % 180000) AS {a},
                   ({_hex15_to_long_sql("strpos", "h_lon")} % 360000) AS {b}
            FROM (SELECT {key},
                         md5(concat(CAST({key} AS STRING), ':lat')) AS h_lat,
                         md5(concat(CAST({key} AS STRING), ':lon')) AS h_lon
                  FROM {tbl})
        """

    return f"""
        WITH cust AS ({coords('customer', 'c_custkey', 'clat', 'clon')}),
             sup AS ({coords('supplier', 's_suppkey', 'slat', 'slon')})
        SELECT s_suppkey, c_custkey,
               (clat - slat) * (clat - slat)
             + (clon - slon) * (clon - slon) AS dist2
        FROM cust, sup
        WHERE (clat - slat) * (clat - slat)
            + (clon - slon) * (clon - slon) <= {GEO_CELL * GEO_CELL}
        ORDER BY s_suppkey, c_custkey
    """


def _market_basket_sql() -> str:
    from deusu_spark.pipelines import BASKET_MIN_SUP as M

    return f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             cnt AS (SELECT l_partkey, count(*) AS n_item
                     FROM items GROUP BY 1),
             pairs AS (
                 SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                        count(*) AS n_both
                 FROM items a JOIN items b USING (l_orderkey)
                 WHERE a.l_partkey < b.l_partkey
                 GROUP BY 1, 2
                 HAVING count(*) >= {M}
             ),
             n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items)
        SELECT part_a, part_b, n_both,
               n_both / n_orders AS support,
               n_both / ca.n_item AS confidence,
               (n_both * n_orders) / (ca.n_item * cb.n_item) AS lift
        FROM pairs, n
        JOIN cnt ca ON ca.l_partkey = part_a
        JOIN cnt cb ON cb.l_partkey = part_b
        ORDER BY part_a, part_b
    """


def _bootstrap_ci_sql() -> str:
    from deusu_spark.pipelines import (
        BOOT_B,
        _hex15_to_long_sql,
        _poisson_weight_sql,
    )

    u = (
        f"({_hex15_to_long_sql('strpos', 'md5(concat(cast(o_orderkey AS STRING), chr(58), cast(b AS STRING)))')}"
        f" / {float(16**15)})"
    )
    return f"""
        SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
               round(sum(w * o_totalprice) / sum(w), 6) AS resample_mean
        FROM (
            SELECT o_orderkey, o_totalprice, CAST(t.b AS INT) AS b,
                   {_poisson_weight_sql(u)} AS w
            FROM orders, range({BOOT_B}) t(b)
        )
        GROUP BY b ORDER BY b
    """


def _countmin_sql() -> str:
    from deusu_spark.pipelines import CMS_D, CMS_PROBE_K, _cms_cell_sql

    cell = _cms_cell_sql("strpos", "t", "d")
    return f"""
        WITH tf AS (SELECT t, count(*) AS cnt FROM ({_TOKS}) GROUP BY t),
             ds AS (SELECT CAST(unnest(range(0, {CMS_D})) AS INT) AS d),
             cells AS (
                 SELECT d, {cell} AS cell, CAST(sum(cnt) AS BIGINT) AS cellcnt
                 FROM tf, ds GROUP BY 1, 2),
             probe AS (SELECT t, cnt FROM tf
                       ORDER BY cnt DESC, t LIMIT {CMS_PROBE_K}),
             pd AS (SELECT t, cnt, d, {cell} AS cell FROM probe, ds)
        SELECT t AS token, max(cnt) AS true_cnt, min(cellcnt) AS est_cnt,
               min(cellcnt) - max(cnt) AS overcount
        FROM pd JOIN cells USING (d, cell)
        GROUP BY t ORDER BY true_cnt DESC, token
    """


def _ewma_sql() -> str:
    from deusu_spark.pipelines import EWMA_K

    lags = ", ".join(
        f"lag(cnt, {i}) OVER w AS l{i}" for i in range(1, EWMA_K)
    )
    num = [f"cnt * {1 << (EWMA_K - 1)}"]
    den = [str(1 << (EWMA_K - 1))]
    for i in range(1, EWMA_K):
        wt = 1 << (EWMA_K - 1 - i)
        num.append(f"CASE WHEN l{i} IS NULL THEN 0 ELSE l{i} * {wt} END")
        den.append(f"CASE WHEN l{i} IS NULL THEN 0 ELSE {wt} END")
    return f"""
        WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
                               count(*) AS cnt
                        FROM events GROUP BY 1, 2),
             lagged AS (SELECT event_type, h, cnt, {lags} FROM hourly
                        WINDOW w AS (PARTITION BY event_type ORDER BY h))
        SELECT event_type, h, cnt,
               round(({' + '.join(num)}) / ({' + '.join(den)}), 6) AS ewma
        FROM lagged ORDER BY event_type, h
    """


_SKEW_HASH = "md5(concat('sk:', CAST(l_orderkey AS STRING)))"


def _skew_profile_sql() -> str:
    from deusu_spark.pipelines import SKEW_P, _hex15_to_long_sql

    pid = f"({_hex15_to_long_sql('strpos', _SKEW_HASH)} % {SKEW_P})"
    return f"""
        WITH kc AS (SELECT CAST({pid} AS INT) AS pid, l_orderkey,
                           count(*) AS kn
                    FROM lineitem GROUP BY 1, 2),
             prof AS (SELECT pid, CAST(sum(kn) AS BIGINT) AS n_rows,
                             count(*) AS n_keys, max(kn) AS max_key_rows
                      FROM kc GROUP BY pid)
        SELECT pid, n_rows, n_keys, max_key_rows,
               round(n_rows / (sum(n_rows) OVER () / {float(SKEW_P)}), 6)
                   AS rel_load
        FROM prof ORDER BY pid
    """


def _bigram_condprob_sql() -> str:
    return f"""
        WITH base AS (SELECT doc_id, a FROM ({_ARR}) WHERE len(a) >= 2),
             bg AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
                    FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i
                          FROM base)),
             cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
             cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu
                    FROM cb GROUP BY 1)
        SELECT doc_id, count(*) AS n_bigrams,
               round(sum(ln(cu) - ln(cb)) / count(*), 6) AS avg_nll
        FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1)
        GROUP BY doc_id ORDER BY doc_id
    """


def _sliding_distinct_sql() -> str:
    from deusu_spark.pipelines import (
        HLL_M,
        HLL_RHO_CAP,
        HLL_SCALE,
        SLW_SECONDS,
    )

    return f"""
        WITH base AS (SELECT event_type, date_trunc('hour', ts) AS h,
                             user_id
                      FROM events),
             hh AS (SELECT event_type, h,
                           md5('sd:' || CAST(user_id AS STRING)) AS hs
                    FROM base),
             rr AS (SELECT event_type, h,
                           CAST('0x' || substr(hs, 1, 2) AS BIGINT)
                               % {HLL_M} AS reg,
                           CAST('0x' || substr(hs, 3, 15) AS BIGINT) AS v
                    FROM hh),
             regs AS (SELECT event_type, h, reg,
                             max(LEAST(CASE WHEN v = 0 THEN 61
                                            ELSE 61 - length(bin(v)) END,
                                       {HLL_RHO_CAP})) AS mr
                      FROM rr GROUP BY 1, 2, 3),
             hours AS (SELECT DISTINCT event_type, h FROM base),
             grid AS (SELECT event_type, h, r.reg
                      FROM hours,
                           (SELECT unnest(range(0, {HLL_M})) AS reg) r),
             g AS (SELECT grid.event_type, grid.h, grid.reg, regs.mr
                   FROM grid LEFT JOIN regs USING (event_type, h, reg)),
             win AS (SELECT event_type, h,
                            max(mr) OVER (
                                PARTITION BY event_type, reg
                                ORDER BY epoch(h)
                                RANGE BETWEEN {SLW_SECONDS - 1} PRECEDING
                                          AND CURRENT ROW) AS wmr
                     FROM g),
             s AS (SELECT event_type, h,
                          CAST(sum(CASE WHEN wmr IS NULL THEN 0
                                        ELSE CAST(1 AS BIGINT)
                                             << ({HLL_RHO_CAP} - wmr)
                                   END) AS BIGINT) AS s_present,
                          CAST(sum(CASE WHEN wmr IS NULL THEN 1 ELSE 0
                                   END) AS BIGINT) AS zeros
                   FROM win GROUP BY 1, 2),
             du AS (SELECT DISTINCT event_type, h, user_id FROM base),
             exact AS (SELECT hr.event_type, hr.h,
                              count(DISTINCT du.user_id) AS exact_24h
                       FROM hours hr JOIN du
                         ON du.event_type = hr.event_type
                        AND epoch(hr.h) - epoch(du.h) >= 0
                        AND epoch(hr.h) - epoch(du.h) < {SLW_SECONDS}
                       GROUP BY 1, 2),
             raws AS (SELECT event_type, h, zeros,
                             (0.709e0 * {float(HLL_M * HLL_M)})
                                 * {float(HLL_SCALE)}
                                 / CAST(s_present + zeros * {HLL_SCALE}
                                        AS DOUBLE) AS raw_est
                      FROM s)
        SELECT raws.event_type, raws.h,
               round(CASE WHEN zeros > 0 AND raw_est <= {2.5 * HLL_M}
                          THEN {float(HLL_M)}
                               * ln({float(HLL_M)} / CAST(zeros AS DOUBLE))
                          ELSE raw_est END, 2) AS est_24h,
               exact_24h,
               CAST(zeros AS INT) AS zero_regs
        FROM raws JOIN exact USING (event_type, h)
        ORDER BY event_type, h
    """


def _histogram_quantile_sql() -> str:
    from deusu_spark.pipelines import HQ_B

    def est(q: str, name: str) -> str:
        return (
            f"round(max(CASE WHEN cum >= {q} * n"
            f" AND (cum - cnt) < {q} * n"
            f" THEN lo + (bin + ({q} * n - (cum - cnt)) / cnt)"
            f" * ((hi - lo) / {float(HQ_B)}) END), 6) AS {name}"
        )

    return f"""
        WITH st AS (SELECT min(o_totalprice) AS lo,
                           max(o_totalprice) AS hi
                    FROM orders),
             b AS (SELECT o_orderpriority,
                          CAST(LEAST({HQ_B - 1},
                               floor((o_totalprice - lo) / (hi - lo)
                                     * {HQ_B})) AS INT) AS bin,
                          lo, hi
                   FROM orders, st),
             hist AS (SELECT o_orderpriority, bin, lo, hi,
                             count(*) AS cnt
                      FROM b GROUP BY 1, 2, 3, 4),
             h2 AS (SELECT *,
                           CAST(sum(cnt) OVER (
                               PARTITION BY o_orderpriority ORDER BY bin
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                           CAST(sum(cnt) OVER (
                               PARTITION BY o_orderpriority) AS BIGINT) AS n
                    FROM hist),
             g AS (SELECT o_orderpriority, max(n) AS n,
                          {est('0.5', 'est_p50')},
                          {est('0.9', 'est_p90')}
                   FROM h2 GROUP BY 1),
             ex AS (SELECT o_orderpriority,
                           quantile_cont(o_totalprice, [0.5, 0.9]) AS p
                    FROM orders GROUP BY 1)
        SELECT g.o_orderpriority, n, est_p50, est_p90,
               round(p[1], 6) AS exact_p50, round(p[2], 6) AS exact_p90,
               round(abs(est_p50 - p[1]), 6) AS err_p50,
               round(abs(est_p90 - p[2]), 6) AS err_p90
        FROM g JOIN ex USING (o_orderpriority)
        ORDER BY o_orderpriority
    """


def _hybrid_rrf_sql() -> str:
    from deusu_spark.pipelines import RRF_DEPTH, RRF_K, RRF_TOPK

    return f"""
        WITH tok AS ({_TOKS}),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
             ad AS (SELECT avg(dl) AS avgdl FROM dl),
             qt AS (SELECT DISTINCT doc_id, t FROM tok
                    WHERE t IN ('spark', 'join')),
             dfs AS (SELECT t, count(*) AS df FROM qt GROUP BY t),
             nn AS (SELECT count(*) AS n FROM documents),
             lex AS (
                 SELECT doc_id,
                        round(sum(ln(1.0 + (nn.n - dfs.df + 0.5)
                                     / (dfs.df + 0.5))
                              * (1.2 + 1.0) * 1.0
                              / (1.0 + 1.2 * (1 - 0.75
                                              + 0.75 * dl.dl / ad.avgdl))),
                              5) AS score
                 FROM qt JOIN dfs USING (t) JOIN dl USING (doc_id), nn, ad
                 GROUP BY doc_id),
             lexr AS (SELECT doc_id,
                             row_number() OVER (
                                 ORDER BY score DESC, doc_id) AS rl
                      FROM lex QUALIFY rl <= {RRF_DEPTH}),
             q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
             sims AS (
                 SELECT vec_id AS doc_id,
                        round((SELECT sum(CAST(x AS DOUBLE)
                                          * CAST(y AS DOUBLE))
                               FROM (SELECT unnest(e.embedding) AS x,
                                            unnest(q.qe) AS y)) /
                              (sqrt((SELECT sum(CAST(x AS DOUBLE)
                                                * CAST(x AS DOUBLE))
                                     FROM (SELECT unnest(e.embedding)
                                               AS x))) *
                               sqrt((SELECT sum(CAST(y AS DOUBLE)
                                                * CAST(y AS DOUBLE))
                                     FROM (SELECT unnest(q.qe) AS y)))),
                              4) AS sim
                 FROM embeddings e, q WHERE e.vec_id <> 0),
             vecr AS (SELECT doc_id,
                             row_number() OVER (
                                 ORDER BY sim DESC, doc_id) AS rv
                      FROM sims QUALIFY rv <= {RRF_DEPTH})
        SELECT doc_id,
               CAST(COALESCE(rl, 0) AS BIGINT) AS lex_rank,
               CAST(COALESCE(rv, 0) AS BIGINT) AS vec_rank,
               round(COALESCE(1.0 / ({RRF_K} + rl), 0)
                     + COALESCE(1.0 / ({RRF_K} + rv), 0), 6) AS rrf
        FROM lexr l FULL OUTER JOIN vecr v USING (doc_id)
        ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}
    """


_SEASONAL_SQL = """
    WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
                           count(*) AS cnt
                    FROM events GROUP BY 1, 2),
         wt AS (SELECT event_type, h, cnt,
                       avg(cnt) OVER (PARTITION BY event_type
                                      ORDER BY epoch(h)
                                      RANGE BETWEEN 86399 PRECEDING
                                                AND CURRENT ROW) AS trend
                FROM hourly),
         hm AS (SELECT event_type, hour(h) AS hod, avg(cnt) AS hod_mean
                FROM hourly GROUP BY 1, 2),
         om AS (SELECT event_type, avg(cnt) AS type_mean
                FROM hourly GROUP BY 1)
    SELECT wt.event_type, wt.h, cnt,
           round(trend, 4) AS trend,
           round(hod_mean - type_mean, 4) AS seasonal,
           round(cnt - trend - (hod_mean - type_mean), 4) AS residual
    FROM wt
    JOIN hm ON hm.event_type = wt.event_type AND hm.hod = hour(wt.h)
    JOIN om ON om.event_type = wt.event_type
    ORDER BY wt.event_type, wt.h
"""


def _ann_pq_sql() -> str:
    from deusu_spark.pipelines import PQ_KC, PQ_M, PQ_TOPK

    sqd = (
        "(SELECT sum((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"
        " FROM (SELECT unnest({a}) AS x, unnest({b}) AS y))"
    )
    return f"""
        WITH ms AS (SELECT CAST(unnest(range(0, {PQ_M})) AS INT) AS m),
             vs AS (SELECT vec_id, m,
                           list_slice(embedding, m * 8 + 1, m * 8 + 8)
                               AS vsub
                    FROM embeddings, ms),
             cents AS (SELECT vec_id AS j, m,
                              list_slice(embedding, m * 8 + 1, m * 8 + 8)
                                  AS csub
                       FROM embeddings, ms
                       WHERE vec_id BETWEEN 1 AND {PQ_KC}),
             asg AS (SELECT vec_id, vs.m AS m, j,
                            {sqd.format(a='vsub', b='csub')} AS d
                     FROM vs JOIN cents ON cents.m = vs.m),
             codes AS (SELECT vec_id, m, j AS code FROM asg
                       QUALIFY row_number() OVER (
                           PARTITION BY vec_id, m ORDER BY d, j) = 1),
             qs AS (SELECT m,
                           list_slice(embedding, m * 8 + 1, m * 8 + 8)
                               AS qsub
                    FROM embeddings, ms WHERE vec_id = 0),
             qtable AS (SELECT qs.m AS m, j,
                               {sqd.format(a='qsub', b='csub')} AS qd
                        FROM qs JOIN cents ON cents.m = qs.m),
             approx AS (SELECT vec_id, round(sum(qd), 4) AS approx_dist
                        FROM codes JOIN qtable
                          ON qtable.m = codes.m AND qtable.j = codes.code
                        WHERE vec_id <> 0 GROUP BY vec_id),
             q AS (SELECT embedding AS qe FROM embeddings
                   WHERE vec_id = 0),
             exact AS (SELECT vec_id,
                              round({sqd.format(a='e.embedding',
                                                b='q.qe')}, 4)
                                  AS exact_dist
                       FROM embeddings e, q WHERE vec_id <> 0)
        SELECT vec_id, approx_dist, exact_dist
        FROM approx JOIN exact USING (vec_id)
        ORDER BY approx_dist, vec_id LIMIT {PQ_TOPK}
    """


def _event_dedup_sql() -> str:
    from deusu_spark.pipelines import DEDUP_TOL_S

    tol_us = DEDUP_TOL_S * 1_000_000
    return f"""
        WITH lagged AS (
            SELECT event_type, epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev
            FROM events)
        SELECT event_type,
               CAST(sum(CASE WHEN prev IS NOT NULL AND us - prev < {tol_us}
                             THEN 0 ELSE 1 END) AS BIGINT) AS kept,
               CAST(sum(CASE WHEN prev IS NOT NULL AND us - prev < {tol_us}
                             THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
               count(*) AS total
        FROM lagged GROUP BY event_type ORDER BY event_type
    """


def _event_trigrams_sql() -> str:
    from deusu_spark.pipelines import SEQ3_TOPK

    return f"""
        WITH tri AS (
            SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT e1, e2, e3, count(*) AS n
        FROM tri WHERE e3 IS NOT NULL
        GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT {SEQ3_TOPK}
    """


_ABC_SQL = """
    WITH rev AS (
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand),
    cums AS (
        SELECT p_brand, revenue,
               round(sum(revenue) OVER (
                   ORDER BY revenue DESC, p_brand
                   ROWS UNBOUNDED PRECEDING), 2) AS cum_revenue,
               round(sum(revenue) OVER (), 2) AS total_revenue
        FROM rev)
    SELECT p_brand, revenue, cum_revenue,
           round(cum_revenue / total_revenue, 6) AS cum_share,
           CASE WHEN cum_revenue / total_revenue <= 0.80 THEN 'A'
                WHEN cum_revenue / total_revenue <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cums ORDER BY revenue DESC, p_brand
"""


def _khop_sql() -> str:
    from deusu_spark.pipelines import KHOP_HOPS, KHOP_SEED_MOD

    return f"""
        WITH RECURSIVE
        items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM items a JOIN items b USING (l_orderkey)
            WHERE a.l_partkey <> b.l_partkey
        ),
        walk(v, hop) AS (
            SELECT DISTINCT l_partkey, 0 FROM items
            WHERE l_partkey % {KHOP_SEED_MOD} = 0
            UNION
            SELECT e.dst, w.hop + 1
            FROM walk w JOIN edges e ON w.v = e.src
            WHERE w.hop < {KHOP_HOPS}
        )
        SELECT v AS part, CAST(min(hop) AS INT) AS hop
        FROM walk GROUP BY v ORDER BY v
    """


def _ab_test_sql() -> str:
    from deusu_spark.pipelines import AB_SALT, _hex15_to_long_sql

    h = _hex15_to_long_sql(
        "strpos", f"md5(concat(cast(user_id AS STRING), '{AB_SALT}'))"
    )
    return f"""
        WITH per_day AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS saw,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        armed AS (
            SELECT CASE WHEN ({h}) % 2 = 0 THEN 'control'
                        ELSE 'treatment' END AS arm,
                   converted
            FROM per_day WHERE saw = 1
        ),
        arms AS (
            SELECT arm, count(*) AS n_exposures,
                   CAST(sum(converted) AS BIGINT) AS n_conversions
            FROM armed GROUP BY arm
        ),
        w AS (
            SELECT
                (SELECT n_exposures FROM arms WHERE arm = 'control') AS cn,
                (SELECT n_conversions FROM arms WHERE arm = 'control') AS cc,
                (SELECT n_exposures FROM arms WHERE arm = 'treatment') AS tn,
                (SELECT n_conversions FROM arms WHERE arm = 'treatment') AS tc
        )
        SELECT arm, n_exposures, n_conversions,
               round(CASE WHEN arm = 'control' THEN cc / cn
                          ELSE tc / tn END, 9) AS conv_rate,
               round((tc / tn - cc / cn)
                     / sqrt(((cc + tc) / (cn + tn))
                            * (1 - (cc + tc) / (cn + tn))
                            * (1.0 / cn + 1.0 / tn)), 9) AS z_score
        FROM arms, w ORDER BY arm
    """


def _kmv_set_ops_sql() -> str:
    from deusu_spark.pipelines import KMV_K, _KMV_ELEM_SQL, _kmv_hash_sql

    h = _kmv_hash_sql("strpos", _KMV_ELEM_SQL)
    denom = float(16**15)
    return f"""
        WITH sets AS (
            SELECT DISTINCT event_type AS s, {h} AS h
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        base AS (
            SELECT DISTINCT event_type AS s, {_KMV_ELEM_SQL} AS e
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        memb AS (SELECT h, count(DISTINCT s) AS n_sets FROM sets GROUP BY h),
        kth AS (
            SELECT s AS metric, h AS uk FROM (
                SELECT s, h,
                       row_number() OVER (PARTITION BY s ORDER BY h) AS rk
                FROM sets
            ) WHERE rk = {KMV_K}
        ),
        union_k AS (
            SELECT h, n_sets, rk FROM (
                SELECT h, n_sets, row_number() OVER (ORDER BY h) AS rk
                FROM memb
            ) WHERE rk <= {KMV_K}
        ),
        u_union AS (
            SELECT 'union' AS metric, h AS uk FROM union_k WHERE rk = {KMV_K}
        ),
        ests AS (
            SELECT metric,
                   round(({KMV_K} - 1) / (uk / {denom}), 6) AS estimate
            FROM (SELECT * FROM kth UNION ALL SELECT * FROM u_union)
            UNION ALL
            SELECT 'intersection',
                   round(
                       (SELECT sum(CASE WHEN n_sets = 2 THEN 1 ELSE 0 END)
                               / {KMV_K}.0 FROM union_k)
                       * ({KMV_K} - 1)
                       / ((SELECT uk FROM u_union) / {denom}), 6)
        ),
        exacts AS (
            SELECT s AS metric, CAST(count(*) AS BIGINT) AS exact
            FROM base GROUP BY 1
            UNION ALL
            SELECT 'union', CAST(count(DISTINCT e) AS BIGINT) FROM base
            UNION ALL
            SELECT 'intersection', CAST(count(*) AS BIGINT) FROM (
                SELECT e FROM base
                GROUP BY e HAVING count(DISTINCT s) = 2
            )
        )
        SELECT metric, estimate, exact
        FROM ests JOIN exacts USING (metric)
        ORDER BY metric
    """


def _classifier_score_sql() -> str:
    from deusu_spark.pipelines import FT_BUCKETS, _hex15_to_long_sql

    h_expr = _hex15_to_long_sql("strpos", "h16")
    return f"""
        WITH hb AS (SELECT doc_id, ({h_expr} % {FT_BUCKETS}) AS b FROM (
                        SELECT doc_id, substr(md5('f:' || t), 1, 15) AS h16
                        FROM ({_TOKS}))),
             wt AS (SELECT doc_id,
                           substr(md5('w:' || CAST(b AS VARCHAR)), 1, 2) AS wh
                    FROM hb),
             w AS (SELECT doc_id,
                          ((strpos('0123456789abcdef', substr(wh, 1, 1)) - 1) * 16
                           + (strpos('0123456789abcdef', substr(wh, 2, 1)) - 1)
                           - 127.5) / 127.5 AS w
                   FROM wt),
             s AS (SELECT doc_id, count(*) AS n_tokens,
                          round(avg(w), 5) AS score
                   FROM w GROUP BY doc_id)
        SELECT doc_id, n_tokens, score, score > 0 AS keep
        FROM s ORDER BY doc_id
    """


def _domain_divergence_sql() -> str:
    from deusu_spark.pipelines import DIV_BUCKETS, _hex15_to_long_sql

    h_expr = _hex15_to_long_sql("strpos", "h16")
    src_tok = (
        "SELECT source, unnest(regexp_split_to_array(lower(text), "
        "'[^a-z0-9]+')) AS t FROM documents"
    )
    return f"""
        WITH tok AS (SELECT source, ({h_expr} % {DIV_BUCKETS}) AS b FROM (
                         SELECT source, substr(md5('d:' || t), 1, 15) AS h16
                         FROM ({src_tok}) WHERE t <> '')),
             c AS (SELECT source, b, count(*) AS cnt FROM tok GROUP BY 1, 2),
             tot AS (SELECT source, sum(cnt) AS tot FROM c GROUP BY 1),
             grid AS (SELECT s.source, g.b
                      FROM (SELECT DISTINCT source FROM c) s,
                           (SELECT unnest(range(0, {DIV_BUCKETS})) AS b) g),
             p AS (SELECT grid.source, grid.b,
                          (coalesce(cnt, 0) + 1) * 1.0
                              / (tot + {DIV_BUCKETS}) AS p
                   FROM grid
                   LEFT JOIN c ON c.source = grid.source AND c.b = grid.b
                   JOIN tot ON tot.source = grid.source)
        SELECT x.source AS src_a, y.source AS src_b,
               round(sum(0.5 * x.p * ln(x.p / ((x.p + y.p) / 2))
                         + 0.5 * y.p * ln(y.p / ((x.p + y.p) / 2))), 5) AS js
        FROM p x JOIN p y ON x.b = y.b AND x.source < y.source
        GROUP BY 1, 2 ORDER BY 1, 2
    """


def _zipf_fit_sql() -> str:
    from deusu_spark.pipelines import ZIPF_TOP

    return f"""
        WITH model AS (SELECT t, count(*) AS cnt FROM ({_TOKS}) GROUP BY t),
             top AS (SELECT t, cnt FROM model
                     ORDER BY cnt DESC, t LIMIT {ZIPF_TOP}),
             xy AS (SELECT ln(row_number() OVER (ORDER BY cnt DESC, t)) AS x,
                           ln(cnt) AS y
                    FROM top),
             s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                          sum(x * y) AS sxy, sum(x * x) AS sxx
                   FROM xy)
        SELECT n AS n_terms,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 5) AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n, 5) AS intercept
        FROM s
    """


def _minhash_recall_sql() -> str:
    return f"""
        WITH {_MINHASH_PAIR_CTES},
             cand AS (SELECT doc_a, doc_b FROM pairs WHERE doc_b < 200),
             tsh AS ({_SHINGLES.format(maxdoc=200)}),
             sz AS (SELECT doc_id, count(*) AS sz FROM tsh GROUP BY doc_id),
             inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                              count(*) AS inter
                       FROM tsh a JOIN tsh b
                         ON a.sh = b.sh AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
             truth AS (SELECT doc_a, doc_b FROM inter
                       JOIN sz sa ON sa.doc_id = doc_a
                       JOIN sz sb ON sb.doc_id = doc_b
                       WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.4),
             j AS (SELECT coalesce(t.hit, 0) AS t, coalesce(c.hit, 0) AS c
                   FROM (SELECT doc_a, doc_b, 1 AS hit FROM truth) t
                   FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS hit FROM cand) c
                     USING (doc_a, doc_b)),
             s AS (SELECT sum(t) AS n_truth, sum(c) AS n_candidates,
                          sum(t * c) AS n_hit
                   FROM j)
        SELECT n_truth, n_candidates, n_hit,
               CASE WHEN n_truth > 0
                    THEN round(n_hit * 1.0 / n_truth, 5) END AS recall,
               CASE WHEN n_candidates > 0
                    THEN round(n_hit * 1.0 / n_candidates, 5) END AS precision
        FROM s
    """


def _training_pipeline_sql() -> str:
    from deusu_spark.pipelines import (
        CHUNK_S,
        CHUNK_W,
        DECON_EVAL_MOD,
        DECON_N,
    )

    gram = " || ' ' || ".join(f"a[i+{j}]" for j in range(DECON_N))
    hx = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
    return f"""
        WITH base AS (SELECT doc_id, a FROM ({_ARR})
                      WHERE doc_id < 300 AND len(a) >= 10),
             g AS (SELECT DISTINCT doc_id, {gram} AS g
                   FROM (SELECT doc_id, a,
                                unnest(range(1, len(a) - {DECON_N - 2})) AS i
                         FROM base)),
             ev AS (SELECT DISTINCT g FROM g
                    WHERE doc_id % {DECON_EVAL_MOD} = 0),
             tr0 AS (SELECT doc_id, a, md5(array_to_string(a, ' ')) AS fp
                     FROM base WHERE doc_id % {DECON_EVAL_MOD} <> 0),
             keep AS (SELECT min(doc_id) AS doc_id FROM tr0 GROUP BY fp),
             dedup AS (SELECT tr0.* FROM tr0 JOIN keep USING (doc_id)),
             contam AS (SELECT DISTINCT g.doc_id
                        FROM g JOIN dedup USING (doc_id) JOIN ev USING (g)),
             clean AS (SELECT * FROM dedup
                       WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
             sp AS (SELECT doc_id,
                           CASE WHEN (({hx.format(i=1)}) * 16
                                      + ({hx.format(i=2)})) % 10 = 0
                                THEN 'val' ELSE 'train' END AS split
                    FROM (SELECT doc_id, md5('split:' || doc_id) AS h
                          FROM clean)),
             s AS (SELECT doc_id, a,
                          unnest(range(0, len(a), {CHUNK_S})) AS start
                   FROM clean)
        SELECT s.doc_id, CAST(start // {CHUNK_S} AS INTEGER) AS chunk_idx,
               CAST(len(list_slice(a, start + 1, start + {CHUNK_W}))
                    AS INTEGER) AS n_chunk,
               array_to_string(list_slice(a, start + 1, start + {CHUNK_W}), ' ')
                   AS chunk_text,
               split
        FROM s JOIN sp USING (doc_id) ORDER BY s.doc_id, chunk_idx
    """


def _dup_spans_sql() -> str:
    from deusu_spark.pipelines import DUPSPAN_BOILER, DUPSPAN_W

    W = DUPSPAN_W
    gram = " || ' ' || ".join(f"a[i+{j}]" for j in range(W))
    return f"""
        WITH base AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(
                       text || CASE WHEN doc_id % 5 = 0
                                    THEN '{DUPSPAN_BOILER}' ELSE '' END),
                       '[^a-z0-9]+'), x -> x <> '') AS a
            FROM documents WHERE doc_id < 400),
             b2 AS (SELECT * FROM base WHERE len(a) >= {W}),
             pos AS (SELECT doc_id, i - 1 AS pos, {gram} AS g
                     FROM (SELECT doc_id, a,
                                  unnest(range(1, len(a) - {W - 2})) AS i
                           FROM b2)),
             dg AS (SELECT g FROM pos
                    GROUP BY g HAVING count(DISTINCT doc_id) > 1),
             fl AS (SELECT doc_id, pos FROM pos JOIN dg USING (g)),
             sp AS (SELECT doc_id, pos,
                           CASE WHEN lag(pos) OVER
                                    (PARTITION BY doc_id ORDER BY pos)
                                    IS DISTINCT FROM pos - 1
                                THEN 1 ELSE 0 END AS ns
                    FROM fl),
             ag AS (SELECT doc_id,
                           CAST(count(*) AS INTEGER) AS n_dup_windows,
                           CAST(sum(ns) AS INTEGER) AS n_dup_spans
                    FROM sp GROUP BY doc_id)
        SELECT b2.doc_id, CAST(len(a) - {W - 1} AS INTEGER) AS n_windows,
               n_dup_windows, n_dup_spans,
               round(n_dup_windows * 1.0 / (len(a) - {W - 1}), 5) AS dup_frac
        FROM b2 JOIN ag USING (doc_id) ORDER BY b2.doc_id
    """


def _topk_ngrams_sql() -> str:
    from deusu_spark.pipelines import NGRAM_TOPK

    def grams(n: int) -> str:
        g = " || ' ' || ".join(f"a[i+{j}]" for j in range(n))
        return (
            f"SELECT {n} AS n, {g} AS g "
            f"FROM (SELECT a, unnest(range(1, len(a) - {n - 2})) AS i "
            f"      FROM base WHERE len(a) >= {n})"
        )

    return f"""
        WITH base AS (
            SELECT list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), x -> x <> '') AS a
            FROM documents WHERE doc_id < 400),
             g AS ({grams(1)} UNION ALL {grams(2)} UNION ALL {grams(3)}),
             c AS (SELECT n, g, count(*) AS cnt FROM g GROUP BY n, g),
             r AS (SELECT n, g, cnt, row_number() OVER
                       (PARTITION BY n ORDER BY cnt DESC, g) AS rank
                   FROM c)
        SELECT n, CAST(rank AS INTEGER) AS rank, g, cnt
        FROM r WHERE rank <= {NGRAM_TOPK} ORDER BY n, rank
    """


def _bpe_chain_ctes() -> list[str]:
    """Shared BPE merge-round CTE chain (see _bpe_merges_sql). The
    vocabulary frames carry the original word `t` so the encode oracle can
    join documents back against the final symbol table."""
    from deusu_spark.pipelines import BPE_MAXDOC, BPE_MERGES

    ctes = [
        "v0 AS MATERIALIZED (SELECT t,"
        " ' ' || regexp_replace(t, '(.)', '\\1 ', 'g')"
        " || '$ ' AS w, cnt FROM (SELECT t, count(*) AS cnt FROM"
        f" ({_TOKS}) WHERE doc_id < {BPE_MAXDOC} GROUP BY t))"
    ]
    for r in range(1, BPE_MERGES + 1):
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT s[i] AS lhs, s[i+1] AS rhs,"
            " sum(cnt) AS pcnt"
            " FROM (SELECT s, cnt, unnest(range(1, len(s))) AS i"
            "       FROM (SELECT string_split(trim(w), ' ') AS s, cnt"
            f"             FROM v{r - 1}))"
            " GROUP BY lhs, rhs)"
        )
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT lhs, rhs, pcnt FROM p{r}"
            " ORDER BY pcnt DESC, lhs, rhs LIMIT 1)"
        )
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT t, replace(w,"
            f" ' ' || (SELECT lhs FROM m{r}) || ' ' ||"
            f" (SELECT rhs FROM m{r}) || ' ',"
            f" ' ' || (SELECT lhs FROM m{r}) ||"
            f" (SELECT rhs FROM m{r}) || ' ') AS w, cnt"
            f" FROM v{r - 1})"
        )
    return ctes


def _bpe_merges_sql() -> str:
    """BPE training IS SQL-expressible: each merge round is one pair-count
    aggregation, one LIMIT-1 argmax, and one scalar-subquery replace over
    the spaced-symbol vocabulary — generated as a MATERIALIZED-CTE chain
    of BPE_MERGES rounds (the oracle stays data-independent; the learned
    pair enters each round only through scalar subqueries)."""
    from deusu_spark.pipelines import BPE_MERGES

    finals = [
        f"SELECT {r} AS rank, lhs, rhs, CAST(pcnt AS BIGINT) AS cnt FROM m{r}"
        for r in range(1, BPE_MERGES + 1)
    ]
    return (
        "WITH " + ",\n ".join(_bpe_chain_ctes()) + " SELECT * FROM ("
        + " UNION ALL ".join(finals) + ") ORDER BY rank"
    )


def _bpe_encode_sql() -> str:
    from deusu_spark.pipelines import BPE_MERGES

    return (
        "WITH " + ",\n ".join(_bpe_chain_ctes()) + f"""
        SELECT doc_id, count(*) AS n_words,
               CAST(sum(length(t) + 1) AS BIGINT) AS n_chars,
               CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
               round(sum(n_sym) * 1.0 / sum(length(t) + 1), 5) AS ratio
        FROM (SELECT doc_id, t FROM ({_TOKS}) WHERE doc_id < 150)
        JOIN (SELECT t, len(string_split(trim(w), ' ')) AS n_sym
              FROM v{BPE_MERGES}) USING (t)
        GROUP BY doc_id ORDER BY doc_id
    """
    )


def _phrase_match_sql() -> str:
    from deusu_spark.pipelines import PHRASE

    needle = " " + PHRASE.replace(" ", "  ") + " "
    return f"""
        WITH s AS (
            SELECT doc_id,
                   replace(' ' || array_to_string(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> ''), ' ') || ' ', ' ', '  ') AS s
            FROM documents),
        h AS (
            SELECT doc_id,
                   CAST((length(s) - length(replace(s, '{needle}', '')))
                        / {len(needle)} AS INTEGER) AS n_hits
            FROM s)
        SELECT doc_id, n_hits FROM h WHERE n_hits > 0 ORDER BY doc_id
    """


def _pagerank_sql() -> str:
    """Generated per-iteration CTE chain (same technique as the BPE
    oracle): r0 = uniform 1/N, each r{i+1} one join+groupBy round, ranks
    rounded to 9 decimals per round exactly like the Spark side so the
    fixpoint is reproducible across engines and summation orders."""
    from deusu_spark.pipelines import PR_DAMP, PR_ITERS

    ctes = [
        "pairs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cn, "
        "'s' || CAST(l_suppkey AS VARCHAR) AS sn "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)",
        "edges AS (SELECT cn AS src, sn AS dst FROM pairs "
        "UNION ALL SELECT sn, cn FROM pairs)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "r0 AS (SELECT src AS node, "
        "CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg)",
    ]
    for i in range(PR_ITERS):
        ctes.append(
            f"r{i + 1} AS (SELECT e.dst AS node, "
            f"round((CAST(1 AS DOUBLE) - {PR_DAMP}) / (SELECT n FROM nn) "
            f"+ {PR_DAMP} * sum(r.pr / d.outdeg), 9) AS pr "
            f"FROM edges e JOIN r{i} r ON e.src = r.node "
            f"JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"\nSELECT node, round(pr, 6) AS pr FROM r{PR_ITERS} ORDER BY node"
    )


def _tfidf_cosine_sql() -> str:
    """Mirrors q_tfidf_cosine_pairs step for step: tf → df (pruned at
    floor(N·frac)) → (1+ln tf)·ln(N/df) → L2-normalize → round(u,7) →
    term-keyed pair join → round(cos,4) ≥ threshold. N counts ALL docs
    under the id bound (even token-less ones), like the Spark side."""
    from deusu_spark.pipelines import (
        TFIDF_COS_MIN,
        TFIDF_DF_MAX_FRAC,
        TFIDF_MAX_DOC,
    )

    return f"""
        WITH d AS (SELECT doc_id, text FROM documents
                   WHERE doc_id < {TFIDF_MAX_DOC}),
        nn AS (SELECT count(DISTINCT doc_id) AS n FROM d),
        tok AS (
            SELECT doc_id, unnest(regexp_split_to_array(lower(text),
                   '[^a-z0-9]+')) AS t FROM d),
        tf AS (
            SELECT doc_id, t, count(*) AS tf FROM tok WHERE t <> ''
            GROUP BY doc_id, t),
        dfreq AS (
            SELECT t, count(*) AS df FROM tf GROUP BY t
            HAVING count(*) <= CAST(FLOOR(
                (SELECT n FROM nn) * {TFIDF_DF_MAX_FRAC}) AS INTEGER)),
        w AS (
            SELECT tf.doc_id, tf.t,
                   (1.0 + ln(CAST(tf.tf AS DOUBLE)))
                       * ln(CAST((SELECT n FROM nn) AS DOUBLE) / dfreq.df)
                       AS w
            FROM tf JOIN dfreq USING (t)),
        nrm AS (
            SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
        u AS (
            SELECT w.doc_id, w.t, round(w.w / nrm.nrm, 7) AS u
            FROM w JOIN nrm USING (doc_id))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(sum(a.u * b.u), 4) AS cosine
        FROM u a JOIN u b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING round(sum(a.u * b.u), 4) >= {TFIDF_COS_MIN}
        ORDER BY doc_a, doc_b
    """


def _heavy_hitters_sql() -> str:
    """Exact definition the Misra-Gries sketch + exact-recount pipeline must
    reproduce: terms with frequency > n/K (integer compare cnt*K > n)."""
    return f"""
        SELECT t, count(*) AS cnt
        FROM ({_TOKS}) GROUP BY t
        HAVING count(*) * 30 > (SELECT count(*) FROM ({_TOKS}))
        ORDER BY cnt DESC, t
    """


def _weighted_sample_sql() -> str:
    hx = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    hv = f"((({hx.format(i=1)} * 16 + {hx.format(i=2)}) * 16 "
    hv += f"+ {hx.format(i=3)}) * 16 + {hx.format(i=4)})"
    return f"""
        WITH x AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), z -> z <> '')) AS n_tok,
                   md5('wsamp:' || doc_id) AS h
            FROM documents)
        SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok
        FROM x WHERE {hv} * 128 < n_tok * 65536
        ORDER BY doc_id
    """


def _mad_outliers_sql() -> str:
    return """
        WITH x AS (
            SELECT doc_id, lang,
                   len(list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), z -> z <> '')) AS n_tok
            FROM documents),
        m AS (SELECT lang, quantile_cont(n_tok, 0.5) AS med
              FROM x GROUP BY lang),
        dv AS (SELECT doc_id, x.lang AS lang, n_tok,
                      abs(2 * n_tok - 2 * med) AS dev2
               FROM x JOIN m USING (lang)),
        md AS (SELECT lang, quantile_cont(dev2, 0.5) AS mad2
               FROM dv GROUP BY lang)
        SELECT doc_id, dv.lang AS lang, CAST(n_tok AS INTEGER) AS n_tok
        FROM dv JOIN md USING (lang)
        WHERE 2 * dev2 > 3 * mad2
        ORDER BY doc_id
    """


def _minhash_lsh16_sql() -> str:
    nh, r = 16, 4
    mins = ", ".join(
        f"min(md5('m{i}:' || sh)) AS h{i}" for i in range(nh)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, 'b{b}:' || {key} AS band FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"h{b * r + i}" for i in range(r)),
        )
        for b in range(nh // r)
    )
    match = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(nh)
    )
    return f"""
        WITH sh AS ({_SHINGLES.format(maxdoc=2**62)}),
        sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
        bands AS ({band_rows}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.doc_id < b.doc_id),
        est AS (
            SELECT doc_a, doc_b,
                   round(({match}) / {float(nh)}, 5) AS est_jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = cand.doc_a
            JOIN sig sb ON sb.doc_id = cand.doc_b),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        i AS (
            SELECT doc_a, doc_b, count(*) AS inter
            FROM cand
            JOIN sh x ON x.doc_id = cand.doc_a
            JOIN sh y ON y.doc_id = cand.doc_b AND x.sh = y.sh
            GROUP BY doc_a, doc_b)
        SELECT e.doc_a, e.doc_b, e.est_jaccard,
               round(CAST(coalesce(i.inter, 0) AS DOUBLE)
                     / (sa.sz + sb.sz - coalesce(i.inter, 0)), 5) AS jaccard
        FROM est e
        LEFT JOIN i USING (doc_a, doc_b)
        JOIN sizes sa ON sa.doc_id = e.doc_a
        JOIN sizes sb ON sb.doc_id = e.doc_b
        ORDER BY e.doc_a, e.doc_b
    """


_HLL_SQL = """
    WITH a AS (
        SELECT lang, list_filter(regexp_split_to_array(lower(text),
            '[^a-z0-9]+'), x -> x <> '') AS a
        FROM documents),
    tk2 AS (
        SELECT lang, 1 AS gram, unnest(a) AS t FROM a
        UNION ALL
        SELECT lang, 2 AS gram, a[i] || ' ' || a[i+1] AS t
        FROM (SELECT lang, a, unnest(range(1, len(a))) AS i
              FROM a WHERE len(a) >= 2)),
    hh AS (
        SELECT lang, gram, t, md5('hll:' || t) AS h FROM tk2),
    rr AS (
        SELECT lang, gram,
               CAST('0x' || substr(h, 1, 2) AS BIGINT) % 64 AS reg,
               CAST('0x' || substr(h, 3, 15) AS BIGINT) AS v
        FROM hh),
    rho AS (
        SELECT lang, gram, reg,
               LEAST(CASE WHEN v = 0 THEN 61
                          ELSE 61 - length(bin(v)) END, 41) AS rho
        FROM rr),
    regs AS (SELECT lang, gram, reg, max(rho) AS mr
             FROM rho GROUP BY lang, gram, reg),
    s AS (
        SELECT lang, gram,
               CAST(sum(CAST(1 AS BIGINT) << (41 - mr)) AS BIGINT)
                   AS s_present,
               count(*) AS nreg
        FROM regs GROUP BY lang, gram),
    ex AS (SELECT lang, gram, count(DISTINCT t) AS exact_distinct
           FROM hh GROUP BY lang, gram),
    raw AS (
        SELECT lang, gram, s_present, nreg,
               (0.709e0 * 4096e0) * 2199023255552e0
                   / CAST(s_present + (64 - nreg) * 2199023255552 AS DOUBLE)
                   AS raw_est
        FROM s)
    SELECT raw.lang AS lang, raw.gram AS gram,
           round(CASE WHEN (64 - nreg) > 0 AND raw_est <= 160e0
                      THEN 64e0 * ln(64e0 / CAST(64 - nreg AS DOUBLE))
                      ELSE raw_est END, 2) AS est_distinct,
           ex.exact_distinct AS exact_distinct,
           CAST(64 - nreg AS INTEGER) AS zero_regs
    FROM raw JOIN ex USING (lang, gram)
    ORDER BY lang, gram
"""

_MIXTURE_SQL = """
    WITH quota AS (
        SELECT lang,
               CAST(10 * floor(sqrt(count(*))) AS BIGINT) AS quota
        FROM documents GROUP BY lang),
    ranked AS (
        SELECT doc_id, lang, md5('mix:' || doc_id) AS h,
               CAST('0x' || substr(md5('mixsalt:' || doc_id), 1, 1)
                    AS BIGINT) % 8 AS salt
        FROM documents),
    r1 AS (
        SELECT doc_id, lang, h,
               row_number() OVER (PARTITION BY lang, salt ORDER BY h) AS rn1
        FROM ranked),
    surv AS (
        SELECT r1.doc_id, r1.lang, r1.h, quota.quota
        FROM r1 JOIN quota USING (lang) WHERE rn1 <= quota)
    SELECT doc_id, lang, CAST(rn AS INTEGER) AS rank
    FROM (SELECT doc_id, lang, quota,
                 row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
          FROM surv)
    WHERE rn <= quota
    ORDER BY lang, rank
"""

_TRIANGLE_SQL = """
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    tri AS (
        SELECT ab.u AS n1, ab.v AS n2, bc.v AS n3
        FROM e ab
        JOIN e bc ON ab.v = bc.u
        JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
    per_node AS (
        SELECT node, count(*) AS tri_cnt
        FROM (SELECT n1 AS node FROM tri
              UNION ALL SELECT n2 FROM tri
              UNION ALL SELECT n3 FROM tri)
        GROUP BY node)
    SELECT CAST(node AS BIGINT) AS node, tri_cnt
    FROM per_node
    ORDER BY tri_cnt DESC, node
    LIMIT 20
"""


_FUNNEL_SQL = """
    WITH t1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id),
    t3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT t1.user_id, t1.t1 AS t1, t2.t2 AS t2, t3.t3 AS t3,
           1 + CASE WHEN t2.t2 IS NULL THEN 0 ELSE 1 END
             + CASE WHEN t3.t3 IS NULL THEN 0 ELSE 1 END AS stage_reached
    FROM t1
    LEFT JOIN t2 USING (user_id)
    LEFT JOIN t3 USING (user_id)
    ORDER BY user_id
"""

_SPELL_SQL = """
    WITH lex AS (
        SELECT DISTINCT unnest(list_filter(regexp_split_to_array(
            lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        FROM documents),
    base AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text),
                   '[^a-z0-9]+'), x -> x <> '')[1] AS t0
        FROM documents
        WHERE len(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), x -> x <> '')) > 0),
    nz AS (
        SELECT doc_id,
               substr(t0, 1, CAST(doc_id % length(t0) AS INT))
                   || substr(t0, CAST(doc_id % length(t0) AS INT) + 2)
                   AS q
        FROM base)
    SELECT doc_id, q, term
    FROM nz JOIN lex ON levenshtein(q, term) <= 1
    WHERE q <> ''
    ORDER BY doc_id, term
"""


_NEGSAMP_SQL = """
    WITH ring AS (
        SELECT doc_id, lang, md5('ring:' || doc_id) AS pos
        FROM documents),
    ring2 AS (
        SELECT doc_id, lang, pos FROM ring
        UNION ALL
        SELECT doc_id, lang, 'z' || pos AS pos FROM ring),
    cand AS (
        SELECT a.doc_id AS anchor, r.doc_id AS negative,
               row_number() OVER (PARTITION BY a.doc_id ORDER BY r.pos)
                   AS rank
        FROM ring a JOIN ring2 r
          ON r.pos > a.pos AND r.lang <> a.lang
        WHERE a.doc_id % 10 = 0)
    SELECT anchor, CAST(rank AS INTEGER) AS rank, negative
    FROM cand WHERE rank <= 5
    ORDER BY anchor, rank
"""

_MOVAVG_SQL = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
        FROM events GROUP BY 1, 2)
    SELECT event_type, h, cnt,
           sum(cnt) OVER w AS cnt_24h,
           round(avg(cnt) OVER w, 4) AS avg_24h
    FROM hourly
    WINDOW w AS (
        PARTITION BY event_type ORDER BY epoch(h)
        RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
    ORDER BY event_type, h
"""


def _fuzzy_match_sql() -> str:
    from deusu_spark.pipelines import FUZZY_MAX_DIST, FUZZY_MAX_KEY

    return f"""
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM part a JOIN part b
          ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
         AND a.p_partkey < b.p_partkey
        WHERE a.p_partkey < {FUZZY_MAX_KEY} AND b.p_partkey < {FUZZY_MAX_KEY}
          AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {FUZZY_MAX_DIST}
        ORDER BY a_key, b_key
    """


def _dp_noisy_sql() -> str:
    """Recompute the identical deterministic Laplace draw in SQL: the same
    md5-derived uniform (first 6 hex digits + 0.5, over 16^6) through the
    same inverse-CDF."""
    from deusu_spark.pipelines import DP_EPSILON

    hexv = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) "
        f"* {16 ** (5 - i)}"
        for i in range(6)
    )
    b = 1.0 / DP_EPSILON
    return f"""
        WITH g AS (SELECT lang, source, count(*) AS n
                   FROM documents GROUP BY 1, 2),
             hh AS (SELECT lang, source, n,
                          md5('dp:' || lang || ':' || source) AS h FROM g),
             u AS (SELECT lang, source, n,
                          (({hexv}) + 0.5) / 16777216.0 AS u FROM hh)
        SELECT lang, source, n,
               round(n + (-{b} * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))),
                     4) AS noisy_n
        FROM u ORDER BY lang, source
    """


def _gopher_rules_sql() -> str:
    from deusu_spark.pipelines import (
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_TOKENS,
        GOPHER_STOPWORDS,
    )

    stoplist = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
        WITH a AS (SELECT doc_id, a FROM ({_ARR})
                   WHERE doc_id < 300 AND len(a) >= 2),
             bg AS (SELECT doc_id, a[i] || ' ' || a[i+1] AS bg
                    FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i
                          FROM a)),
             bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
             bga AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg
                     FROM bgc GROUP BY 1),
             r AS (SELECT doc_id,
                          len(a) AS n_tok,
                          list_aggregate(list_transform(a, x -> length(x)),
                                         'sum') * 1.0 / len(a) AS mean_len,
                          1.0 - len(list_distinct(a)) * 1.0 / len(a)
                              AS dup_frac,
                          len(list_filter(a, x -> list_contains(
                              [{stoplist}], x))) AS stop_hits
                   FROM a)
        SELECT r.doc_id,
               (n_tok >= {GOPHER_MIN_TOKENS}
                AND n_tok <= {GOPHER_MAX_TOKENS}) AS r_token_count,
               (mean_len >= 3.0 AND mean_len <= 10.0) AS r_mean_word_len,
               (dup_frac < 0.5) AS r_dup_word_frac,
               (top_bg * 1.0 / n_bg < 0.2) AS r_top_bigram,
               (stop_hits >= 2) AS r_stopwords,
               ((n_tok >= {GOPHER_MIN_TOKENS}
                 AND n_tok <= {GOPHER_MAX_TOKENS})
                AND (mean_len >= 3.0 AND mean_len <= 10.0)
                AND (dup_frac < 0.5)
                AND (top_bg * 1.0 / n_bg < 0.2)
                AND (stop_hits >= 2)) AS keep
        FROM r JOIN bga ON r.doc_id = bga.doc_id
        ORDER BY r.doc_id
    """


def _cdc_chunk_ctes() -> str:
    """Shared CTE chain ending at chunks(doc_id, cid, chunk, n_tokens) —
    used by cdc_chunks and chunk_savings."""
    from deusu_spark.pipelines import CDC_DIVISOR, _hex15_to_long_sql

    th = _hex15_to_long_sql("strpos", "md5(t)")
    return f"""arr AS (SELECT doc_id,
                            list_filter(regexp_split_to_array(lower(text),
                                        '[^a-z0-9]+'), x -> x <> '') AS a
                     FROM documents WHERE doc_id < 400),
             tok AS (SELECT doc_id, i AS pos, a[i] AS t
                     FROM (SELECT doc_id, a,
                                  unnest(range(1, len(a) + 1)) AS i
                           FROM arr)),
             th AS (SELECT doc_id, pos, t,
                           CASE WHEN ({th}) % {CDC_DIVISOR} = 0
                                THEN 1 ELSE 0 END AS b
                    FROM tok),
             ch AS (SELECT doc_id, pos, t,
                           sum(b) OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS cid
                    FROM th),
             chunks AS (SELECT doc_id, cid,
                               string_agg(t, ' ' ORDER BY pos) AS chunk,
                               count(*) AS n_tokens
                        FROM ch GROUP BY 1, 2)"""


def _behavior_linkage_sql() -> str:
    from deusu_spark.pipelines import BEHAVIOR_MAX_DIST, BEHAVIOR_SEQ_LEN

    return f"""
        WITH firstk AS (SELECT user_id, ch, rn FROM (
                            SELECT user_id,
                                   substr(event_type, 1, 1) AS ch,
                                   row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS rn
                            FROM events)
                        WHERE rn <= {BEHAVIOR_SEQ_LEN}),
             seqs AS (SELECT user_id,
                             string_agg(ch, '' ORDER BY rn) AS seq
                      FROM firstk GROUP BY 1),
             blocked AS (SELECT user_id, seq, substr(seq, 1, 1) AS blk
                         FROM seqs)
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               levenshtein(a.seq, b.seq) AS dist
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.user_id < b.user_id
        WHERE levenshtein(a.seq, b.seq) <= {BEHAVIOR_MAX_DIST}
        ORDER BY user_a, user_b
    """


def _chunk_savings_sql() -> str:
    return f"""
        WITH {_cdc_chunk_ctes()},
             per_fp AS (SELECT md5(chunk) AS fp,
                               min(n_tokens) AS n_tokens,
                               count(*) AS occ
                        FROM chunks GROUP BY 1)
        SELECT CAST(sum(occ * n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum((occ - 1) * n_tokens) AS BIGINT) AS saved_tokens,
               count(*) AS n_unique_chunks,
               round(sum((occ - 1) * n_tokens) * 1.0
                     / sum(occ * n_tokens), 6) AS dedup_ratio
        FROM per_fp
    """


def _dbscan_grid_sql() -> str:
    from deusu_spark.pipelines import (
        DBSCAN_EPS,
        DBSCAN_MAX_KEY,
        DBSCAN_MIN_PTS,
        _hex15_to_long_sql,
    )

    eps2 = DBSCAN_EPS * DBSCAN_EPS
    return f"""
        WITH RECURSIVE
             pts AS MATERIALIZED (
                 SELECT c_custkey AS pid,
                        ({_hex15_to_long_sql("strpos", "h_lat")}
                         % 180000) AS lat,
                        ({_hex15_to_long_sql("strpos", "h_lon")}
                         % 360000) AS lon
                 FROM (SELECT c_custkey,
                              md5(concat(CAST(c_custkey AS STRING),
                                         ':lat')) AS h_lat,
                              md5(concat(CAST(c_custkey AS STRING),
                                         ':lon')) AS h_lon
                       FROM customer
                       WHERE c_custkey < {DBSCAN_MAX_KEY})),
             nbr AS MATERIALIZED (
                 SELECT a.pid AS a, b.pid AS b FROM pts a JOIN pts b
                 ON (a.lat - b.lat) * (a.lat - b.lat)
                  + (a.lon - b.lon) * (a.lon - b.lon) <= {eps2}),
             cores AS MATERIALIZED (
                 SELECT a AS pid FROM nbr GROUP BY a
                 HAVING count(*) >= {DBSCAN_MIN_PTS}),
             core_edges AS MATERIALIZED (
                 SELECT n.a AS src, n.b AS dst FROM nbr n
                 JOIN cores ca ON ca.pid = n.a
                 JOIN cores cb ON cb.pid = n.b
                 WHERE n.a <> n.b),
             reach(src, dst) AS (
                 SELECT pid, pid FROM cores
                 UNION
                 SELECT r.src, e.dst
                 FROM reach r JOIN core_edges e ON r.dst = e.src),
             labels AS MATERIALIZED (
                 SELECT src AS node, min(dst) AS lab
                 FROM reach GROUP BY src),
             border AS MATERIALIZED (
                 SELECT n.a AS pid, min(l.lab) AS lab FROM nbr n
                 JOIN labels l ON l.node = n.b
                 WHERE n.a NOT IN (SELECT pid FROM cores)
                 GROUP BY 1),
             clustered AS MATERIALIZED (
                 SELECT lab AS cluster_id, 1 AS is_core FROM labels
                 UNION ALL
                 SELECT lab AS cluster_id, 0 AS is_core FROM border),
             census AS (SELECT cluster_id,
                               sum(is_core) AS n_core,
                               sum(1 - is_core) AS n_border
                        FROM clustered GROUP BY 1)
        SELECT cluster_id, n_core, n_border FROM census
        UNION ALL
        SELECT -1, 0, (SELECT count(*) FROM pts)
                      - (SELECT count(*) FROM clustered)
        ORDER BY cluster_id
    """


def _time_to_convert_sql() -> str:
    return """
        WITH su AS (SELECT user_id, min(ts) AS signup_ts FROM events
                    WHERE event_type = 'signup' GROUP BY 1),
             pu AS (SELECT e.user_id,
                           min(e.ts) AS conv_ts,
                           min(su.signup_ts) AS s_ts
                    FROM events e JOIN su ON su.user_id = e.user_id
                    WHERE e.event_type = 'purchase'
                      AND e.ts > su.signup_ts
                    GROUP BY 1),
             h AS (SELECT CAST(floor(epoch(conv_ts)) AS BIGINT)
                          - CAST(floor(epoch(s_ts)) AS BIGINT) AS secs
                   FROM pu),
             hh AS (SELECT CAST(secs AS DOUBLE) / 3600.0 AS h FROM h)
        SELECT count(*) AS n_converted,
               round(avg(h), 6) AS avg_hours,
               round(quantile_cont(h, 0.25), 6) AS p25_hours,
               round(quantile_cont(h, 0.5), 6) AS p50_hours,
               round(quantile_cont(h, 0.75), 6) AS p75_hours,
               round(quantile_cont(h, 0.9), 6) AS p90_hours
        FROM hh
    """


def _decay_weighted_sql() -> str:
    from deusu_spark.pipelines import DECAY_LAMBDA, DECAY_TOPK

    return f"""
        WITH ref AS (SELECT max(ts) AS ref_ts FROM events),
             scored AS (SELECT user_id,
                               value * exp(CAST(-{DECAY_LAMBDA} AS DOUBLE)
                                   * ((CAST(floor(epoch(ref_ts)) AS BIGINT)
                                       - CAST(floor(epoch(ts)) AS BIGINT))
                                      / 86400.0)) AS dv
                        FROM events CROSS JOIN ref),
             agg AS (SELECT user_id,
                            round(sum(dv), 6) AS decayed_score,
                            count(*) AS n_events
                     FROM scored GROUP BY 1),
             pick AS (SELECT *, row_number() OVER (
                          ORDER BY decayed_score DESC, user_id) AS rn
                      FROM agg)
        SELECT user_id, decayed_score, n_events
        FROM pick WHERE rn <= {DECAY_TOPK} ORDER BY user_id
    """


def _pca_power_sql() -> str:
    from deusu_spark.pipelines import PCA_ITERS, PCA_MAX_VEC, PCA_OUT_DIMS

    ctes = [
        f"""base AS (SELECT vec_id, embedding AS emb
                     FROM embeddings WHERE vec_id < {PCA_MAX_VEC}),
             x AS (SELECT vec_id, k - 1 AS i, CAST(emb[k] AS DOUBLE) AS xi
                   FROM (SELECT vec_id, emb,
                                unnest(range(1, len(emb) + 1)) AS k
                         FROM base)),
             sums AS (SELECT a.i, b.i AS j, sum(a.xi * b.xi) AS sxy
                      FROM x a JOIN x b ON a.vec_id = b.vec_id
                      GROUP BY 1, 2),
             mu AS (SELECT i, sum(xi) AS sx, count(*) AS n
                    FROM x GROUP BY 1),
             cov AS MATERIALIZED (SELECT s.i, s.j,
                            s.sxy / mi.n
                            - (mi.sx / mi.n) * (mj.sx / mj.n) AS c
                     FROM sums s
                     JOIN mu mi ON mi.i = s.i
                     JOIN mu mj ON mj.i = s.j),
             v0 AS MATERIALIZED (SELECT DISTINCT i,
                            CAST(1.0 AS DOUBLE) AS val
                    FROM cov)"""
    ]
    for r in range(1, PCA_ITERS + 1):
        ctes.append(
            f"""w{r} AS MATERIALIZED (
                     SELECT cov.i, sum(cov.c * p.val) AS wv
                     FROM cov JOIN v{r - 1} p ON p.i = cov.j
                     GROUP BY 1),
             v{r} AS MATERIALIZED (
                      SELECT i, wv / (SELECT sqrt(sum(wv * wv))
                                      FROM w{r}) AS val
                      FROM w{r})"""
        )
    k = PCA_ITERS
    return f"""
        WITH {", ".join(ctes)},
             lam AS (SELECT sum(vi.val * cov.c * vj.val) AS l
                     FROM cov
                     JOIN v{k} vi ON vi.i = cov.i
                     JOIN v{k} vj ON vj.i = cov.j)
        SELECT i AS dim, round(val, 6) AS component,
               round((SELECT l FROM lam), 6) AS eigenvalue
        FROM v{k} WHERE i < {PCA_OUT_DIMS} ORDER BY dim
    """


def _hits_scores_sql() -> str:
    from deusu_spark.pipelines import HITS_ITERS, HITS_MAX_PART, HITS_TOPK

    ctes = [
        f"""li AS (SELECT l_orderkey, l_partkey FROM lineitem
                   WHERE l_partkey < {HITS_MAX_PART}),
             e AS MATERIALIZED (
                   SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   WHERE a.l_partkey < b.l_partkey),
             nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
                           SELECT u AS node FROM e
                           UNION ALL SELECT v FROM e)),
             h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)"""
    ]
    for r in range(1, HITS_ITERS + 1):
        ctes.append(
            f"""ar{r} AS MATERIALIZED (
                      SELECT e.v AS node, sum(p.h) AS a
                      FROM e JOIN h{r - 1} p ON p.node = e.u
                      GROUP BY 1),
             a{r} AS MATERIALIZED (
                      SELECT node, a / (SELECT sum(a) FROM ar{r}) AS a
                      FROM ar{r}),
             hr{r} AS MATERIALIZED (
                       SELECT e.u AS node, sum(q.a) AS h
                       FROM e JOIN a{r} q ON q.node = e.v
                       GROUP BY 1),
             h{r} AS MATERIALIZED (
                      SELECT node, h / (SELECT sum(h) FROM hr{r}) AS h
                      FROM hr{r})"""
        )
    k = HITS_ITERS
    return f"""
        WITH {", ".join(ctes)},
             scored AS (SELECT n.node,
                               coalesce(a.a, CAST(0 AS DOUBLE)) AS a,
                               coalesce(h.h, CAST(0 AS DOUBLE)) AS h
                        FROM nodes n
                        LEFT JOIN a{k} a ON a.node = n.node
                        LEFT JOIN h{k} h ON h.node = n.node),
             pick AS (SELECT *, row_number() OVER (
                          ORDER BY a DESC, node) AS rn
                      FROM scored)
        SELECT node, round(a, 6) AS authority, round(h, 6) AS hub
        FROM pick WHERE rn <= {HITS_TOPK} ORDER BY node
    """


def _bellman_ford_sql() -> str:
    from deusu_spark.pipelines import BF_ITERS, BF_MAX_PART

    ctes = [
        f"""li AS (SELECT l_orderkey, l_partkey FROM lineitem
                   WHERE l_partkey < {BF_MAX_PART}),
             co AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
                           count(*) AS cnt
                    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                    WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
             e AS (SELECT u, v, greatest(1, 6 - cnt) AS w FROM co),
             edges AS MATERIALIZED (SELECT u, v, w FROM e
                       UNION ALL SELECT v AS u, u AS v, w FROM e),
             d0 AS (SELECT (SELECT min(u) FROM edges) AS node, 0 AS d)"""
    ]
    for r in range(1, BF_ITERS + 1):
        ctes.append(
            f"""d{r} AS MATERIALIZED (SELECT node, min(d) AS d FROM (
                         SELECT edges.v AS node, p.d + edges.w AS d
                         FROM edges JOIN d{r - 1} p ON p.node = edges.u
                         UNION ALL SELECT node, d FROM d{r - 1})
                     GROUP BY 1)"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT node, d AS dist FROM d{BF_ITERS} ORDER BY node
    """


def _lpa_ctes() -> tuple[str, str]:
    """(CTE chain, final label table name) for the unrolled deterministic
    LPA rounds — shared by label_propagation and newman_modularity."""
    from deusu_spark.pipelines import LPA_ITERS, LPA_MAX_PART

    ctes = [
        f"""li AS (SELECT DISTINCT l_orderkey, l_partkey
                   FROM lineitem WHERE l_partkey < {LPA_MAX_PART}),
             e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   WHERE a.l_partkey < b.l_partkey),
             adj AS (SELECT u, v FROM e
                     UNION ALL SELECT v AS u, u AS v FROM e),
             l0 AS (SELECT DISTINCT u AS node, u AS lab FROM adj)"""
    ]
    for r in range(1, LPA_ITERS + 1):
        ctes.append(
            f"""c{r} AS (SELECT adj.u AS node, p.lab, count(*) AS c
                     FROM adj JOIN l{r - 1} p ON p.node = adj.v
                     GROUP BY 1, 2),
             l{r} AS (SELECT node, lab FROM (
                          SELECT node, lab, row_number() OVER (
                              PARTITION BY node
                              ORDER BY c DESC, lab) AS rn
                          FROM c{r}) WHERE rn = 1)"""
        )
    return ", ".join(ctes), f"l{LPA_ITERS}"


def _label_propagation_sql() -> str:
    ctes, last = _lpa_ctes()
    return f"""
        WITH {ctes}
        SELECT lab AS community, count(*) AS size
        FROM {last} GROUP BY 1 ORDER BY 1
    """


def _mmr_diversify_sql() -> str:
    from deusu_spark.pipelines import (
        MMR_K,
        MMR_LAMBDA,
        MMR_MAX_DOC,
        MMR_POOL,
        MMR_TERM,
    )

    # round r reads sel{r - 1} three times (directly and through m{r} and
    # sc{r}), so inlined CTEs multiply the plan per pick; MATERIALIZED
    # evaluates each CTE once, with the same rows.
    lam = f"CAST({MMR_LAMBDA} AS DOUBLE)"
    ctes = [
        f"""d AS (SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text),
                                     '[^a-z0-9]+'), x -> x <> '') AS a
                  FROM documents WHERE doc_id < {MMR_MAX_DOC}),
             tok AS (SELECT doc_id, unnest(a) AS t FROM d),
             rel AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS rel
                     FROM tok WHERE t = '{MMR_TERM}' GROUP BY 1),
             pool AS MATERIALIZED (SELECT doc_id, rel FROM (
                          SELECT *, row_number() OVER (
                              ORDER BY rel DESC, doc_id) AS rn
                          FROM rel) WHERE rn <= {MMR_POOL}),
             dtok AS (SELECT DISTINCT tok.doc_id, t
                      FROM tok JOIN pool USING (doc_id)),
             nset AS (SELECT doc_id, count(*) AS nt FROM dtok GROUP BY 1),
             inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
                              count(*) AS i
                       FROM dtok a JOIN dtok b
                         ON a.t = b.t AND a.doc_id <> b.doc_id
                       GROUP BY 1, 2),
             sim AS MATERIALIZED (SELECT da, db,
                            CAST(i AS DOUBLE) / (na.nt + nb.nt - i) AS sim
                     FROM inter
                     JOIN nset na ON na.doc_id = da
                     JOIN nset nb ON nb.doc_id = db),
             s1 AS MATERIALIZED (SELECT doc_id, 1 AS pick, {lam} * rel AS mmr FROM (
                        SELECT *, row_number() OVER (
                            ORDER BY rel DESC, doc_id) AS rn
                        FROM pool) WHERE rn = 1),
             sel1 AS MATERIALIZED (SELECT doc_id FROM s1)"""
    ]
    for r in range(2, MMR_K + 1):
        ctes.append(
            f"""m{r} AS MATERIALIZED (SELECT da AS doc_id, max(sim) AS maxsim
                     FROM sim WHERE db IN (SELECT doc_id FROM sel{r - 1})
                     GROUP BY 1),
             sc{r} AS MATERIALIZED (SELECT p.doc_id,
                              {lam} * p.rel - (1 - {lam})
                              * coalesce(m{r}.maxsim, 0) AS mmr
                       FROM pool p LEFT JOIN m{r} USING (doc_id)
                       WHERE p.doc_id NOT IN
                             (SELECT doc_id FROM sel{r - 1})),
             s{r} AS MATERIALIZED (SELECT doc_id, {r} AS pick, mmr FROM (
                          SELECT *, row_number() OVER (
                              ORDER BY mmr DESC, doc_id) AS rn
                          FROM sc{r}) WHERE rn = 1),
             sel{r} AS MATERIALIZED (SELECT doc_id FROM sel{r - 1}
                        UNION ALL SELECT doc_id FROM s{r})"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, MMR_K + 1)
    )
    return f"""
        WITH {", ".join(ctes)}
        SELECT pick, doc_id, round(mmr, 6) AS mmr FROM ({union})
        ORDER BY pick
    """


def _query_likelihood_sql() -> str:
    from deusu_spark.pipelines import QLM_MAX_DOC, QLM_MU, QLM_TERMS, QLM_TOPK

    terms = ", ".join(f"'{t}'" for t in QLM_TERMS)
    return f"""
        WITH d AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(lower(text),
                                      '[^a-z0-9]+'), x -> x <> '') AS a
                   FROM documents WHERE doc_id < {QLM_MAX_DOC}),
             tok AS (SELECT doc_id, unnest(a) AS t FROM d),
             tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
             coll AS (SELECT t, count(*) AS ctf FROM tok GROUP BY 1),
             ctot AS (SELECT count(*) AS c FROM tok),
             q AS (SELECT unnest([{terms}]) AS t),
             grid AS (SELECT dl.doc_id,
                             ln((coalesce(tf.tf, 0)
                                 + {QLM_MU} * coll.ctf / ctot.c)
                                / (dl.dl + {QLM_MU})) AS lp
                      FROM dl CROSS JOIN q
                      JOIN coll ON coll.t = q.t
                      CROSS JOIN ctot
                      LEFT JOIN tf ON tf.doc_id = dl.doc_id
                                  AND tf.t = q.t),
             scored AS (SELECT doc_id, round(sum(lp), 6) AS score
                        FROM grid GROUP BY 1),
             pick AS (SELECT *, row_number() OVER (
                          ORDER BY score DESC, doc_id) AS rn
                      FROM scored)
        SELECT doc_id, score FROM pick WHERE rn <= {QLM_TOPK}
        ORDER BY doc_id
    """


def _rake_keywords_sql() -> str:
    from deusu_spark.pipelines import RAKE_MAX_DOC, RAKE_STOP, RAKE_TOPK

    stop = ", ".join(f"'{t}'" for t in RAKE_STOP)
    return f"""
        WITH d AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(lower(text),
                                      '[^a-z0-9]+'), x -> x <> '') AS a
                   FROM documents WHERE doc_id < {RAKE_MAX_DOC}),
             tok AS (SELECT doc_id, i AS pos, a[i] AS t
                     FROM (SELECT doc_id, a,
                                  unnest(range(1, len(a) + 1)) AS i
                           FROM d)),
             fl AS (SELECT doc_id, pos, t,
                           CASE WHEN t IN ({stop}) THEN 1 ELSE 0 END AS s
                    FROM tok),
             isl0 AS (SELECT doc_id, pos, t, s,
                             sum(s) OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS isl
                      FROM fl),
             isl AS (SELECT doc_id, pos, t, isl FROM isl0 WHERE s = 0),
             phrases AS (SELECT doc_id, isl,
                                string_agg(t, ' ' ORDER BY pos) AS phrase,
                                count(*) AS plen
                         FROM isl GROUP BY 1, 2),
             occ AS (SELECT i.t, p.plen FROM isl i
                     JOIN phrases p USING (doc_id, isl)),
             wscore AS (SELECT t, sum(plen) * 1.0 / count(*) AS wscore
                        FROM occ GROUP BY 1),
             member AS (SELECT i.doc_id, i.isl, p.phrase, i.t
                        FROM isl i JOIN phrases p USING (doc_id, isl)),
             pscored AS (SELECT doc_id, isl, phrase,
                                sum(wscore) AS pscore
                         FROM member JOIN wscore USING (t)
                         GROUP BY 1, 2, 3),
             agg AS (SELECT phrase, count(*) AS n_occ,
                            round(max(pscore), 6) AS score
                     FROM pscored GROUP BY 1),
             pick AS (SELECT *, row_number() OVER (
                          ORDER BY score DESC, phrase) AS rn
                      FROM agg)
        SELECT phrase, n_occ, score FROM pick WHERE rn <= {RAKE_TOPK}
        ORDER BY phrase
    """


def _holt_smoothing_sql() -> str:
    from deusu_spark.pipelines import HOLT_ALPHA, HOLT_BETA, HOLT_H

    # bare 0.5/0.3 literals would be DECIMAL in DuckDB and run the whole
    # recursion in truncating decimal arithmetic — force DOUBLE
    a, b = f"CAST({HOLT_ALPHA} AS DOUBLE)", f"CAST({HOLT_BETA} AS DOUBLE)"
    return f"""
        WITH RECURSIVE
             daily AS (SELECT CAST(ts AS DATE) AS day,
                              CAST(count(*) AS DOUBLE) AS x
                       FROM events GROUP BY 1),
             idx AS (SELECT row_number() OVER (ORDER BY day) AS i, x
                     FROM daily),
             n AS (SELECT count(*) AS t FROM idx),
             h(i, l, b) AS (
                 SELECT 2,
                        (SELECT x FROM idx WHERE i = 1),
                        (SELECT x FROM idx WHERE i = 2)
                        - (SELECT x FROM idx WHERE i = 1)
                 UNION ALL
                 SELECT h.i + 1,
                        {a} * idx.x + (1 - {a}) * (h.l + h.b),
                        {b} * (({a} * idx.x + (1 - {a}) * (h.l + h.b))
                               - h.l) + (1 - {b}) * h.b
                 FROM h JOIN idx ON idx.i = h.i + 1)
        SELECT (SELECT t FROM n) AS n_days,
               round(l, 6) AS level,
               round(b, 6) AS trend,
               round(l + {HOLT_H} * b, 6) AS forecast_h{HOLT_H}
        FROM h WHERE i = (SELECT t FROM n)
    """


def _dau_wau_sql() -> str:
    from deusu_spark.pipelines import DAU_WINDOW

    return f"""
        WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS uday, user_id
                    FROM events),
             days AS (SELECT DISTINCT uday AS day FROM ud),
             dau AS (SELECT uday AS day,
                            count(DISTINCT user_id) AS dau
                     FROM ud GROUP BY 1),
             wau AS (SELECT d.day,
                            count(DISTINCT u.user_id) AS wau{DAU_WINDOW}
                     FROM days d JOIN ud u
                       ON u.uday <= d.day
                      AND u.uday > d.day - {DAU_WINDOW}
                     GROUP BY 1)
        SELECT d.day, d.dau, w.wau{DAU_WINDOW},
               round(d.dau * 1.0 / w.wau{DAU_WINDOW}, 6) AS stickiness
        FROM dau d JOIN wau w USING (day) ORDER BY day
    """


def _welch_t_sql() -> str:
    from deusu_spark.pipelines import WELCH_TYPE_A, WELCH_TYPE_B

    return f"""
        WITH g AS (SELECT event_type, count(*) AS n, sum(value) AS s,
                          sum(value * value) AS ss
                   FROM events
                   WHERE event_type IN ('{WELCH_TYPE_A}', '{WELCH_TYPE_B}')
                   GROUP BY 1),
             st AS (SELECT event_type, n, s / n AS m,
                           (ss - s * s / n) / (n - 1) AS v
                    FROM g),
             j AS (SELECT a.n AS n_a, a.m AS m_a, a.v AS v_a,
                          b.n AS n_b, b.m AS m_b, b.v AS v_b
                   FROM st a, st b
                   WHERE a.event_type = '{WELCH_TYPE_A}'
                     AND b.event_type = '{WELCH_TYPE_B}')
        SELECT n_a, n_b, round(m_a - m_b, 6) AS mean_diff,
               round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6)
                   AS t_stat,
               round((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
                     / (v_a * v_a / (n_a * n_a * (n_a - 1))
                        + v_b * v_b / (n_b * n_b * (n_b - 1))), 6)
                   AS dof
        FROM j
    """


def _link_prediction_sql() -> str:
    from deusu_spark.pipelines import LINKPRED_MAX_PART, LINKPRED_TOPK

    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                    FROM lineitem WHERE l_partkey < {LINKPRED_MAX_PART}),
             e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   WHERE a.l_partkey < b.l_partkey),
             adj AS (SELECT u, v FROM e
                     UNION ALL SELECT v AS u, u AS v FROM e),
             deg AS (SELECT u, count(*) AS d FROM adj GROUP BY 1),
             cn AS (SELECT w1.u AS a, w2.u AS b, count(*) AS cn
                    FROM adj w1 JOIN adj w2 ON w1.v = w2.v
                    WHERE w1.u < w2.u GROUP BY 1, 2),
             cand AS (SELECT cn.* FROM cn
                      LEFT JOIN e ON cn.a = e.u AND cn.b = e.v
                      WHERE e.u IS NULL),
             scored AS (SELECT a, b, cn,
                               round(cn * 1.0 / (da.d + db.d - cn), 6)
                                   AS jaccard
                        FROM cand
                        JOIN deg da ON cand.a = da.u
                        JOIN deg db ON cand.b = db.u),
             pick AS (SELECT *, row_number() OVER (
                          ORDER BY jaccard DESC, cn DESC, a, b) AS rn
                      FROM scored)
        SELECT a AS part_a, b AS part_b, cn AS common_neighbors, jaccard
        FROM pick WHERE rn <= {LINKPRED_TOPK} ORDER BY part_a, part_b
    """


def _adamic_adar_sql() -> str:
    from deusu_spark.pipelines import AA_MAX_PART, AA_TOPK

    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                    FROM lineitem WHERE l_partkey < {AA_MAX_PART}),
             e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   WHERE a.l_partkey < b.l_partkey),
             adj AS (SELECT u, v FROM e
                     UNION ALL SELECT v AS u, u AS v FROM e),
             deg AS (SELECT u, count(*) AS d FROM adj GROUP BY 1),
             sc AS (SELECT w1.u AS a, w2.u AS b, count(*) AS cn,
                           round(sum(1.0 / ln(dw.d)), 6) AS aa_score
                    FROM adj w1 JOIN adj w2 ON w1.v = w2.v
                    JOIN deg dw ON w1.v = dw.u
                    WHERE w1.u < w2.u GROUP BY 1, 2),
             cand AS (SELECT sc.* FROM sc
                      LEFT JOIN e ON sc.a = e.u AND sc.b = e.v
                      WHERE e.u IS NULL),
             pick AS (SELECT *, row_number() OVER (
                          ORDER BY aa_score DESC, cn DESC, a, b) AS rn
                      FROM cand)
        SELECT a AS part_a, b AS part_b, cn AS common_neighbors, aa_score
        FROM pick WHERE rn <= {AA_TOPK} ORDER BY part_a, part_b
    """


def _g2_collocations_sql() -> str:
    from deusu_spark.pipelines import G2_MIN_COUNT, G2_TOPK

    return f"""
        WITH arr AS (SELECT list_filter(regexp_split_to_array(lower(text),
                                '[^a-z0-9]+'), x -> x <> '') AS a
                     FROM documents),
             big AS (SELECT a[i] AS w1, a[i + 1] AS w2
                     FROM (SELECT a, unnest(range(1, len(a))) AS i
                           FROM arr WHERE len(a) >= 2)),
             cab AS (SELECT w1, w2, count(*) AS k11 FROM big GROUP BY 1, 2),
             cl AS (SELECT w1, count(*) AS ca FROM big GROUP BY 1),
             cr AS (SELECT w2, count(*) AS cb FROM big GROUP BY 1),
             n AS (SELECT count(*) * 1.0 AS nb FROM big),
             j AS (SELECT w1, w2, k11, ca, cb, nb
                   FROM cab JOIN cl USING (w1) JOIN cr USING (w2), n
                   WHERE k11 >= {G2_MIN_COUNT}),
             g AS (SELECT w1, w2, k11,
                          round(2.0 * (
                              k11 * ln(k11 / (ca * cb / nb))
                            + CASE WHEN ca - k11 > 0
                              THEN (ca - k11)
                                   * ln((ca - k11) / (ca * (nb - cb) / nb))
                              ELSE 0 END
                            + CASE WHEN cb - k11 > 0
                              THEN (cb - k11)
                                   * ln((cb - k11) / ((nb - ca) * cb / nb))
                              ELSE 0 END
                            + CASE WHEN nb - ca - cb + k11 > 0
                              THEN (nb - ca - cb + k11)
                                   * ln((nb - ca - cb + k11)
                                        / ((nb - ca) * (nb - cb) / nb))
                              ELSE 0 END), 6) AS g2
                   FROM j),
             pick AS (SELECT *, row_number() OVER (
                          ORDER BY g2 DESC, k11 DESC, w1, w2) AS rn
                      FROM g)
        SELECT w1, w2, k11 AS pair_count, g2
        FROM pick WHERE rn <= {G2_TOPK} ORDER BY w1, w2
    """


def _kanonymity_sql() -> str:
    from deusu_spark.pipelines import KANON_BAND, KANON_K, KANON_L

    return f"""
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               CAST(floor(c_acctbal / {KANON_BAND}) AS BIGINT) AS bal_band,
               count(DISTINCT c_custkey) AS k,
               count(DISTINCT o_orderpriority) AS l,
               CASE WHEN count(DISTINCT c_custkey) >= {KANON_K}
                    THEN 1 ELSE 0 END AS k_anonymous,
               CASE WHEN count(DISTINCT o_orderpriority) >= {KANON_L}
                    THEN 1 ELSE 0 END AS l_diverse
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """


_THEIL_SQL = """
    WITH spend AS (SELECT round(sum(o_totalprice), 2) AS x, c_nationkey
                   FROM orders JOIN customer ON o_custkey = c_custkey
                   GROUP BY o_custkey, c_nationkey),
         g AS (SELECT n_name, count(*) AS n_customers,
                      sum(x) AS xg, sum(x * ln(x)) AS xlx
               FROM spend JOIN nation ON c_nationkey = n_nationkey
               GROUP BY 1),
         t AS (SELECT sum(x) AS xt, count(*) AS nt FROM spend)
    SELECT n_name, n_customers,
           round(xg / xt, 6) AS spend_share,
           round(xlx / xg - ln(xg / n_customers), 6) AS theil_within,
           round(xg / xt * ln((xg / n_customers) / (xt / nt)), 6)
               AS between_term
    FROM g, t ORDER BY n_name
"""


def _bh_fdr_sql() -> str:
    from deusu_spark.pipelines import _AS_B, _AS_T, _INV_SQRT_2PI, BH_Q

    b1, b2, b3, b4, b5 = _AS_B
    return f"""
        WITH j AS (SELECT c_nationkey AS nationkey, o_totalprice AS x
                   FROM orders JOIN customer ON o_custkey = c_custkey),
             grp AS (SELECT nationkey, count(*) AS n, avg(x) AS m
                     FROM j GROUP BY 1),
             tot AS (SELECT avg(x) AS mu0,
                            sqrt(avg(x * x) - avg(x) * avg(x)) AS sigma
                     FROM j),
             zs AS (SELECT nationkey, n,
                           (m - mu0) / (sigma / sqrt(n)) AS zr
                    FROM grp, tot),
             ps AS (SELECT nationkey, n, round(zr, 6) AS z,
                           round(2.0 * ({_INV_SQRT_2PI}
                               * exp(-abs(zr) * abs(zr) / 2.0)
                               * ((((({b5} * tt + {b4}) * tt + {b3}) * tt
                                    + {b2}) * tt + {b1}) * tt)), 6) AS p
                    FROM (SELECT *, 1.0 / (1.0 + {_AS_T} * abs(zr)) AS tt
                          FROM zs)),
             ranked AS (SELECT *,
                            row_number() OVER (ORDER BY p, nationkey) AS i,
                            count(*) OVER () AS mtot
                        FROM ps),
             adj AS (SELECT *, min(p * mtot / i) OVER (
                         ORDER BY p, nationkey
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                         AS p_adj_raw
                     FROM ranked)
        SELECT nationkey, n, z, p,
               round(least(p_adj_raw, 1.0), 6) AS p_adj,
               CASE WHEN least(p_adj_raw, 1.0) <= {BH_Q}
                    THEN 1 ELSE 0 END AS significant
        FROM adj ORDER BY nationkey
    """


def _feature_propagation_sql() -> str:
    from deusu_spark.pipelines import AA_MAX_PART

    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                    FROM lineitem WHERE l_partkey < {AA_MAX_PART}),
             e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   WHERE a.l_partkey < b.l_partkey),
             adj AS (SELECT u, v FROM e
                     UNION ALL SELECT v AS u, u AS v FROM e),
             x0 AS (SELECT p_partkey AS node, round(p_retailprice, 2) AS x0
                    FROM part),
             x1 AS (SELECT adj.u AS node, round(avg(x0.x0), 6) AS x1
                    FROM adj JOIN x0 ON adj.v = x0.node GROUP BY 1),
             x2 AS (SELECT adj.u AS node, round(avg(x1.x1), 6) AS x2
                    FROM adj JOIN x1 ON adj.v = x1.node GROUP BY 1),
             deg AS (SELECT u AS node, count(*) AS degree
                     FROM adj GROUP BY 1)
        SELECT node AS part, degree, x0, x1, x2
        FROM x0 JOIN x1 USING (node) JOIN x2 USING (node)
                JOIN deg USING (node)
        ORDER BY part
    """


def _rolling_median_sql() -> str:
    from deusu_spark.pipelines import ROLLMED_MAX_CUST, ROLLMED_WIN

    return f"""
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               round(o_totalprice, 2) AS x,
               round(median(round(o_totalprice, 2)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN {ROLLMED_WIN - 1} PRECEDING
                        AND CURRENT ROW), 4) AS roll_median
        FROM orders WHERE o_custkey < {ROLLMED_MAX_CUST}
        ORDER BY custkey, orderkey
    """


def _s_stemmer_sql() -> str:
    from deusu_spark.pipelines import SSTEM_TOPK

    return f"""
        WITH tok AS (SELECT t FROM (
                 SELECT unnest(regexp_split_to_array(lower(text),
                               '[^a-z0-9]+')) AS t FROM documents)
             WHERE t <> ''),
             st AS (SELECT CASE
                 WHEN t LIKE '%ies' AND t NOT LIKE '%eies'
                      AND t NOT LIKE '%aies'
                     THEN substr(t, 1, length(t) - 3) || 'y'
                 WHEN t LIKE '%es' AND t NOT LIKE '%aes'
                      AND t NOT LIKE '%ees' AND t NOT LIKE '%oes'
                     THEN substr(t, 1, length(t) - 1)
                 WHEN t LIKE '%s' AND t NOT LIKE '%us'
                      AND t NOT LIKE '%ss'
                     THEN substr(t, 1, length(t) - 1)
                 ELSE t END AS stem, t
             FROM tok),
             agg AS (SELECT stem, count(*) AS n_tokens,
                            count(DISTINCT t) AS n_forms
                     FROM st GROUP BY 1),
             pick AS (SELECT *, row_number() OVER (
                          ORDER BY n_tokens DESC, stem) AS rn FROM agg)
        SELECT stem, n_tokens, n_forms
        FROM pick WHERE rn <= {SSTEM_TOPK} ORDER BY stem
    """


def _cdc_chunks_sql() -> str:
    from deusu_spark.pipelines import CDC_DIVISOR, _hex15_to_long_sql

    th = _hex15_to_long_sql("strpos", "md5(t)")
    return f"""
        WITH arr AS (SELECT doc_id,
                            list_filter(regexp_split_to_array(lower(text),
                                        '[^a-z0-9]+'), x -> x <> '') AS a
                     FROM documents WHERE doc_id < 400),
             tok AS (SELECT doc_id, i AS pos, a[i] AS t
                     FROM (SELECT doc_id, a,
                                  unnest(range(1, len(a) + 1)) AS i
                           FROM arr)),
             th AS (SELECT doc_id, pos, t,
                           CASE WHEN ({th}) % {CDC_DIVISOR} = 0
                                THEN 1 ELSE 0 END AS b
                    FROM tok),
             ch AS (SELECT doc_id, pos, t,
                           sum(b) OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS cid
                    FROM th),
             chunks AS (SELECT doc_id, cid,
                               string_agg(t, ' ' ORDER BY pos) AS chunk,
                               count(*) AS n_tokens
                        FROM ch GROUP BY 1, 2)
        SELECT md5(chunk) AS fp, min(n_tokens) AS n_tokens,
               count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS n_docs
        FROM chunks GROUP BY 1
        HAVING count(DISTINCT doc_id) > 1 ORDER BY fp
    """


def _prf_expansion_sql() -> str:
    from deusu_spark.pipelines import PRF_K_DOCS, PRF_K_TERMS

    return f"""
        WITH tok AS ({_TOKS}),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
             ad AS (SELECT avg(dl) AS avgdl FROM dl),
             nn AS (SELECT count(*) AS n FROM documents),
             qt AS (SELECT DISTINCT doc_id, t FROM tok
                    WHERE t IN ('spark', 'join')),
             dfs AS (SELECT t, count(*) AS df FROM qt GROUP BY t),
             top AS (SELECT doc_id FROM (
                 SELECT doc_id,
                        round(sum(ln(1.0 + (nn.n - dfs.df + 0.5)
                                           / (dfs.df + 0.5))
                              * (1.2 + 1.0) * 1.0
                              / (1.0 + 1.2 * (1 - 0.75
                                              + 0.75 * dl.dl / ad.avgdl))),
                              5) AS score
                 FROM qt JOIN dfs USING (t) JOIN dl USING (doc_id), nn, ad
                 GROUP BY doc_id
                 ORDER BY score DESC, doc_id LIMIT {PRF_K_DOCS})),
             dt AS (SELECT DISTINCT doc_id, t FROM tok),
             fb AS (SELECT t, count(*) AS df_fb
                    FROM dt JOIN top USING (doc_id)
                    WHERE t NOT IN ('spark', 'join') AND length(t) >= 3
                    GROUP BY t),
             cdf AS (SELECT t, count(*) AS df FROM dt GROUP BY t)
        SELECT t, df_fb, df,
               round(df_fb * ln(1.0 + ((SELECT n FROM nn) - df + 0.5)
                                      / (df + 0.5)), 6) AS rsv
        FROM fb JOIN cdf USING (t)
        ORDER BY rsv DESC, t LIMIT {PRF_K_TERMS}
    """


def _kaplan_meier_sql() -> str:
    from deusu_spark.pipelines import KM_HORIZON_DAYS as H

    return f"""
        WITH firsts AS (SELECT user_id, min(ts) AS first_ts
                        FROM events GROUP BY 1),
             purch AS (SELECT user_id, min(ts) AS p_ts FROM events
                       WHERE event_type = 'purchase' GROUP BY 1),
             per AS (SELECT user_id,
                            CASE WHEN days_to_p IS NOT NULL
                                  AND days_to_p <= {H}
                                 THEN 1 ELSE 0 END AS event,
                            CASE WHEN days_to_p IS NOT NULL
                                  AND days_to_p <= {H}
                                 THEN days_to_p ELSE {H} END AS duration
                     FROM (SELECT f.user_id,
                                  date_diff('day', first_ts, p_ts)
                                      AS days_to_p
                           FROM firsts f LEFT JOIN purch USING (user_id))),
             tot AS (SELECT count(*) AS total FROM per),
             tbl AS (SELECT duration,
                            CAST(sum(event) AS BIGINT) AS n_events,
                            CAST(sum(1 - event) AS BIGINT) AS n_censored
                     FROM per GROUP BY 1),
             risk AS (SELECT duration, n_events, n_censored,
                             CAST((SELECT total FROM tot)
                                  - coalesce(sum(n_events + n_censored)
                                      OVER (ORDER BY duration
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0)
                                  AS BIGINT) AS at_risk
                      FROM tbl),
             km AS (SELECT *,
                           round(exp(sum(ln(1.0 - n_events * 1.0 / at_risk))
                                     OVER (ORDER BY duration)), 6)
                               AS survival
                    FROM risk)
        SELECT duration, at_risk, n_events, n_censored, survival
        FROM km WHERE n_events > 0 ORDER BY duration
    """


def _ft_p_ctes() -> str:
    """Shared CTE chain: hashed-unigram classifier p per doc (the SQL
    twin of pipelines._ft_doc_p) — ends with s(doc_id, p)."""
    from deusu_spark.pipelines import FT_BUCKETS, _hex15_to_long_sql

    h_expr = _hex15_to_long_sql("strpos", "h16")
    return f"""hb AS (SELECT doc_id, ({h_expr} % {FT_BUCKETS}) AS b FROM (
                        SELECT doc_id, substr(md5('f:' || t), 1, 15) AS h16
                        FROM ({_TOKS}))),
             wt AS (SELECT doc_id,
                           substr(md5('w:' || CAST(b AS VARCHAR)), 1, 2) AS wh
                    FROM hb),
             w AS (SELECT doc_id,
                          ((strpos('0123456789abcdef', substr(wh, 1, 1)) - 1)
                               * 16
                           + (strpos('0123456789abcdef', substr(wh, 2, 1)) - 1)
                           - 127.5) / 127.5 AS w
                   FROM wt),
             s AS (SELECT doc_id, (round(avg(w), 5) + 1.0) / 2.0 AS p
                   FROM w GROUP BY doc_id)"""


def _brier_calibration_sql() -> str:
    from deusu_spark.pipelines import CALIB_BINS

    return f"""
        WITH {_ft_p_ctes()},
             l AS (SELECT s.doc_id, p,
                          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                   FROM s JOIN documents d ON s.doc_id = d.doc_id),
             b AS (SELECT least(CAST(floor(p * {CALIB_BINS}) AS INTEGER),
                                {CALIB_BINS - 1}) AS bin, p, y
                   FROM l)
        SELECT bin, count(*) AS n, round(avg(p), 6) AS mean_p,
               round(avg(y), 6) AS obs_rate,
               round(avg(pow(p - y, 2)), 6) AS brier
        FROM b GROUP BY bin ORDER BY bin
    """


def _roc_auc_sql() -> str:
    return f"""
        WITH {_ft_p_ctes()},
             l AS (SELECT s.doc_id, p,
                          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                   FROM s JOIN documents d ON s.doc_id = d.doc_id),
             r AS (SELECT y,
                          rank() OVER (ORDER BY p)
                          + (count(*) OVER (PARTITION BY p) - 1) / 2.0 AS r
                   FROM l),
             agg AS (SELECT CAST(sum(y) AS BIGINT) AS np,
                            CAST(sum(1 - y) AS BIGINT) AS nn,
                            sum(CASE WHEN y = 1 THEN r END) AS rp
                     FROM r)
        SELECT np AS n_pos, nn AS n_neg,
               round((rp - np * (np + 1.0) / 2.0) / (np * nn), 6) AS auc
        FROM agg
    """


def _psi_drift_sql() -> str:
    from deusu_spark.pipelines import PSI_BIN_WIDTH, PSI_BINS

    sm_a = f"(n_a + 0.5) / (ta + 0.5 * {PSI_BINS})"
    sm_b = f"(n_b + 0.5) / (tb + 0.5 * {PSI_BINS})"
    return f"""
        WITH half AS (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS h
                      FROM documents),
             sides AS (SELECT least(CAST(floor(n_chars / {PSI_BIN_WIDTH})
                                         AS INTEGER),
                                    {PSI_BINS - 1}) AS bin,
                              CAST(sum(CASE WHEN doc_id <=
                                           (SELECT h FROM half)
                                       THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                              CAST(sum(CASE WHEN doc_id >
                                           (SELECT h FROM half)
                                       THEN 1 ELSE 0 END) AS BIGINT) AS n_b
                       FROM documents GROUP BY 1),
             spine AS (SELECT CAST(range AS INTEGER) AS bin
                       FROM range({PSI_BINS})),
             filled AS (SELECT bin, coalesce(n_a, 0) AS n_a,
                               coalesce(n_b, 0) AS n_b
                        FROM spine LEFT JOIN sides USING (bin)),
             tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM filled)
        SELECT bin, n_a, n_b,
               round({sm_a}, 6) AS p_a,
               round({sm_b}, 6) AS p_b,
               round(({sm_b} - {sm_a}) * ln(({sm_b}) / ({sm_a})), 6)
                   AS psi_contrib
        FROM filled, tot ORDER BY bin
    """


def _cohens_kappa_sql() -> str:
    from deusu_spark.pipelines import KAPPA_CHARS

    return f"""
        WITH {_ft_p_ctes()},
             ab AS (SELECT CASE WHEN p > 0.5 THEN 1 ELSE 0 END AS a,
                           CASE WHEN d.n_chars >= {KAPPA_CHARS}
                                THEN 1 ELSE 0 END AS b
                    FROM s JOIN documents d ON s.doc_id = d.doc_id),
             agg AS (SELECT count(*) AS n,
                            CAST(sum(a * b) AS BIGINT) AS n11,
                            CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                            CAST(sum((1 - a) * b) AS BIGINT) AS n01
                     FROM ab),
             m AS (SELECT n, n11, n10, n01,
                          n - n11 - n10 - n01 AS n00 FROM agg),
             p AS (SELECT n, n11, n10, n01,
                          (n11 + n00) * 1.0 / n AS po,
                          ((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                          + ((n01 + n00) * 1.0 / n)
                            * ((n10 + n00) * 1.0 / n) AS pe
                   FROM m)
        SELECT n, n11, n10, n01, round(po, 6) AS p_o, round(pe, 6) AS p_e,
               round((po - pe) / (1.0 - pe), 6) AS kappa
        FROM p
    """


def _elbow_curve_sql() -> str:
    from deusu_spark.pipelines import ELBOW_KMAX

    return f"""
        WITH longv AS (SELECT vec_id, i - 1 AS idx,
                              CAST(embedding[i] AS DOUBLE) AS val
                       FROM (SELECT vec_id, embedding,
                                    unnest(range(1, len(embedding) + 1)) AS i
                             FROM embeddings)),
             cents AS (SELECT vec_id AS cid, idx, val AS cval
                       FROM longv WHERE vec_id < {ELBOW_KMAX}),
             d2 AS (SELECT vec_id, cid,
                           sum((val - cval) * (val - cval)) AS d2
                    FROM longv JOIN cents USING (idx) GROUP BY 1, 2),
             ks AS (SELECT CAST(range AS INTEGER) + 1 AS k
                    FROM range({ELBOW_KMAX})),
             mins AS (SELECT k, vec_id, min(d2) AS m
                      FROM d2 JOIN ks ON cid < k GROUP BY 1, 2)
        SELECT k, count(*) AS n_vectors, round(sum(m), 4) AS wcss
        FROM mins GROUP BY k ORDER BY k
    """


def _ks_test_sql() -> str:
    return """
        WITH half AS (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS h
                      FROM documents),
             per_v AS (SELECT n_chars,
                              CAST(sum(CASE WHEN doc_id <=
                                           (SELECT h FROM half)
                                       THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                              CAST(sum(CASE WHEN doc_id >
                                           (SELECT h FROM half)
                                       THEN 1 ELSE 0 END) AS BIGINT) AS cb
                       FROM documents GROUP BY 1),
             cum AS (SELECT sum(ca) OVER (ORDER BY n_chars) AS cum_a,
                            sum(cb) OVER (ORDER BY n_chars) AS cum_b
                     FROM per_v),
             tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
                            CAST(sum(cb) AS BIGINT) AS tb FROM per_v)
        SELECT ta AS n_a, tb AS n_b,
               round(max(abs(cum_a * 1.0 / ta - cum_b * 1.0 / tb)), 6)
                   AS ks_d,
               round(max(abs(cum_a * 1.0 / ta - cum_b * 1.0 / tb))
                     * sqrt(ta * tb * 1.0 / (ta + tb)), 6) AS ks_stat
        FROM cum, tot GROUP BY ta, tb
    """


def _chi2_independence_sql() -> str:
    return """
        WITH cells AS (SELECT lang, source, count(*) AS o
                       FROM documents GROUP BY 1, 2),
             rowt AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
             colt AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
             tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
        SELECT (SELECT n FROM tot) AS n,
               count(DISTINCT lang) AS n_langs,
               count(DISTINCT source) AS n_sources,
               (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
                   AS dof,
               round(sum(pow(o - rt * ct * 1.0 / (SELECT n FROM tot), 2)
                         / (rt * ct * 1.0 / (SELECT n FROM tot))), 4)
                   AS chi2
        FROM cells JOIN rowt USING (lang) JOIN colt USING (source)
    """


def _spearman_corr_sql() -> str:
    return f"""
        WITH {_ft_p_ctes()},
             sc AS (SELECT s.doc_id, p, d.n_chars
                    FROM s JOIN documents d ON s.doc_id = d.doc_id),
             r AS (SELECT rank() OVER (ORDER BY n_chars)
                          + (count(*) OVER (PARTITION BY n_chars) - 1) / 2.0
                              AS x,
                          rank() OVER (ORDER BY p)
                          + (count(*) OVER (PARTITION BY p) - 1) / 2.0 AS y
                   FROM sc),
             agg AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                            sum(x * y) AS sxy, sum(x * x) AS sxx,
                            sum(y * y) AS syy
                     FROM r)
        SELECT n, round((n * sxy - sx * sy)
                        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                        6) AS rho
        FROM agg
    """


def _acf_daily_sql() -> str:
    from deusu_spark.pipelines import ACF_MAX_LAG

    return f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
                       FROM events GROUP BY 1),
             idx AS (SELECT row_number() OVER (ORDER BY day) AS i,
                            cnt * 1.0 AS x
                     FROM daily),
             mu AS (SELECT avg(x) AS mu FROM idx),
             centered AS (SELECT i, x - (SELECT mu FROM mu) AS dx FROM idx),
             denom AS (SELECT sum(dx * dx) AS ss FROM centered),
             lags AS (SELECT CAST(range AS INTEGER) + 1 AS lag
                      FROM range({ACF_MAX_LAG})),
             pairs AS (SELECT lag, a.dx AS dx, b.dx AS dy
                       FROM centered a CROSS JOIN lags
                       JOIN centered b ON b.i = a.i + lag)
        SELECT lag, count(*) AS n_pairs,
               round(sum(dx * dy) / (SELECT ss FROM denom), 6) AS acf
        FROM pairs GROUP BY lag ORDER BY lag
    """


def _seasonal_naive_backtest_sql() -> str:
    from deusu_spark.pipelines import FORECAST_LAG, FORECAST_TRAIN_DAYS

    return f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
                       FROM events GROUP BY 1),
             s AS (SELECT row_number() OVER (ORDER BY day) AS i,
                          cnt * 1.0 AS y,
                          lag(cnt, {FORECAST_LAG}) OVER (ORDER BY day) * 1.0
                              AS yhat
                   FROM daily),
             t AS (SELECT * FROM s
                   WHERE i > {FORECAST_TRAIN_DAYS} AND yhat IS NOT NULL)
        SELECT count(*) AS n_test, round(avg(abs(y - yhat)), 6) AS mae,
               round(avg(abs(y - yhat) / y), 6) AS mape
        FROM t
    """


def _degree_assortativity_sql() -> str:
    return """
        WITH pairs AS (SELECT DISTINCT
                              'c' || CAST(o_custkey AS VARCHAR) AS cn,
                              's' || CAST(l_suppkey AS VARCHAR) AS sn
                       FROM orders JOIN lineitem
                         ON o_orderkey = l_orderkey),
             edges AS (SELECT cn AS src, sn AS dst FROM pairs
                       UNION ALL SELECT sn, cn FROM pairs),
             deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
             xy AS (SELECT dx.d * 1.0 AS x, dy.d * 1.0 AS y
                    FROM edges e
                    JOIN deg dx ON e.src = dx.src
                    JOIN deg dy ON e.dst = dy.src),
             agg AS (SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
                            sum(x * y) AS sxy, sum(x * x) AS sxx,
                            sum(y * y) AS syy
                     FROM xy)
        SELECT m AS n_edges,
               round((m * sxy - sx * sy)
                     / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)), 6)
                   AS assortativity
        FROM agg
    """


def _cond_entropy_sql() -> str:
    return """
        WITH nn AS (SELECT count(*) * 1.0 AS n FROM documents),
             cell AS (SELECT lang, source, count(*) AS c
                      FROM documents GROUP BY 1, 2),
             cs AS (SELECT source, sum(c) AS cs FROM cell GROUP BY 1),
             hc AS (SELECT -sum((c / (SELECT n FROM nn))
                                * log2(c * 1.0 / cs)) AS h
                    FROM cell JOIN cs USING (source)),
             marg AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
             hl AS (SELECT -sum((c / (SELECT n FROM nn))
                                * log2(c / (SELECT n FROM nn))) AS h
                    FROM marg)
        SELECT round(hl.h, 6) AS h_lang,
               round(hc.h, 6) AS h_lang_given_source,
               round(hl.h - hc.h, 6) AS info_gain
        FROM hl, hc
    """


def _ltv_curve_sql() -> str:
    return """
        WITH first AS (SELECT user_id,
                              CAST(date_trunc('week', min(ts)) AS DATE)
                                  AS cohort_wk
                       FROM events GROUP BY 1),
             sizes AS (SELECT cohort_wk, count(*) AS n_users
                       FROM first GROUP BY 1),
             rev AS (SELECT cohort_wk,
                            CAST(date_diff('day', cohort_wk,
                                     CAST(date_trunc('week', ts) AS DATE))
                                 / 7 AS INTEGER) AS age_weeks,
                            sum(value) AS wk_rev
                     FROM events e JOIN first USING (user_id)
                     WHERE event_type = 'purchase' GROUP BY 1, 2),
             cum AS (SELECT cohort_wk, age_weeks,
                            sum(wk_rev) OVER (PARTITION BY cohort_wk
                                              ORDER BY age_weeks) AS cum_rev
                     FROM rev)
        SELECT cohort_wk, age_weeks, n_users, round(cum_rev, 2) AS cum_rev,
               round(cum_rev / n_users, 6) AS ltv
        FROM cum JOIN sizes USING (cohort_wk)
        ORDER BY cohort_wk, age_weeks
    """


def _position_attribution_sql() -> str:
    return """
        WITH fp AS (SELECT user_id, min(ts) AS p_ts FROM events
                    WHERE event_type = 'purchase' GROUP BY 1),
             pval AS (SELECT e.user_id, p_ts, min(value) AS pvalue
                      FROM events e JOIN fp USING (user_id)
                      WHERE event_type = 'purchase' AND ts = p_ts
                      GROUP BY 1, 2),
             touches AS (SELECT e.user_id, event_type, ts, pvalue
                         FROM events e JOIN pval USING (user_id)
                         WHERE event_type IN ('view', 'click')
                           AND ts < p_ts),
             pos AS (SELECT event_type, pvalue,
                            row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts, event_type)
                                AS i,
                            count(*) OVER (PARTITION BY user_id) AS m
                     FROM touches),
             cr AS (SELECT event_type, pvalue,
                           CASE WHEN m = 1 THEN 1.0
                                WHEN m = 2 THEN 0.5
                                WHEN i = 1 THEN 0.4
                                WHEN i = m THEN 0.4
                                ELSE 0.2 / (m - 2) END AS credit
                    FROM pos)
        SELECT event_type AS touch_type, round(sum(credit), 6) AS credit,
               round(sum(credit * pvalue), 2) AS attributed_revenue
        FROM cr GROUP BY 1 ORDER BY 1
    """


def _quota_allocation_sql() -> str:
    from deusu_spark.pipelines import QUOTA_N

    return f"""
        WITH g AS (SELECT lang, count(*) AS n_docs
                   FROM documents GROUP BY 1),
             tot AS (SELECT sum(sqrt(n_docs)) AS ts FROM g),
             sh AS (SELECT lang, n_docs,
                           sqrt(n_docs) / (SELECT ts FROM tot) * {QUOTA_N}
                               AS share
                    FROM g),
             based AS (SELECT lang, n_docs, share,
                              CAST(floor(share) AS BIGINT) AS base,
                              share - floor(share) AS frac
                       FROM sh),
             lo AS (SELECT CAST({QUOTA_N} - sum(base) AS INTEGER) AS r
                    FROM based),
             rk AS (SELECT *, row_number() OVER (ORDER BY frac DESC, lang)
                               AS rn
                    FROM based)
        SELECT lang, n_docs, round(share, 6) AS share, base,
               CASE WHEN rn <= (SELECT r FROM lo) THEN 1 ELSE 0 END
                   AS extra,
               base + CASE WHEN rn <= (SELECT r FROM lo)
                           THEN 1 ELSE 0 END AS alloc
        FROM rk ORDER BY lang
    """


def _trimmed_mean_sql() -> str:
    from deusu_spark.pipelines import TRIM_FRAC

    return f"""
        WITH base AS (SELECT n.n_name, o.o_totalprice, o.o_orderkey
                      FROM orders o
                      JOIN customer c ON o.o_custkey = c.c_custkey
                      JOIN nation n ON c.c_nationkey = n.n_nationkey),
             ranked AS (SELECT n_name, o_totalprice,
                               row_number() OVER (PARTITION BY n_name
                                                  ORDER BY o_totalprice,
                                                           o_orderkey) AS i,
                               count(*) OVER (PARTITION BY n_name) AS n
                        FROM base),
             alls AS (SELECT n_name, count(*) AS n_orders,
                             round(avg(o_totalprice), 4) AS mean_all
                      FROM ranked GROUP BY 1),
             kept AS (SELECT n_name, o_totalprice FROM ranked
                      WHERE i > CAST(floor({TRIM_FRAC} * n) AS BIGINT)
                        AND i <= n - CAST(floor({TRIM_FRAC} * n)
                                          AS BIGINT)),
             trm AS (SELECT n_name, count(*) AS n_kept,
                            round(avg(o_totalprice), 4) AS mean_trimmed
                     FROM kept GROUP BY 1)
        SELECT n_name, n_orders, n_kept, mean_all, mean_trimmed
        FROM alls JOIN trm USING (n_name) ORDER BY n_name
    """


_POSTOK = """arr AS (SELECT doc_id,
                            list_filter(regexp_split_to_array(lower(text),
                                        '[^a-z0-9]+'), x -> x <> '') AS a
                     FROM documents),
             tok AS (SELECT doc_id, i - 1 AS pos, a[i] AS t
                     FROM (SELECT doc_id, a,
                                  unnest(range(1, len(a) + 1)) AS i
                           FROM arr))"""


def _min_span_sql() -> str:
    return f"""
        WITH {_POSTOK},
             pos AS (SELECT * FROM tok WHERE t IN ('spark', 'join')),
             a2 AS (SELECT doc_id, pos AS pa FROM pos WHERE t = 'spark'),
             b2 AS (SELECT doc_id, pos AS pb FROM pos WHERE t = 'join')
        SELECT doc_id, count(DISTINCT pa) AS n_a, count(DISTINCT pb) AS n_b,
               CAST(min(abs(pa - pb)) AS BIGINT) AS min_gap
        FROM a2 JOIN b2 USING (doc_id) GROUP BY doc_id ORDER BY doc_id
    """


def _snippet_window_sql() -> str:
    from deusu_spark.pipelines import SNIPPET_W

    return f"""
        WITH {_POSTOK},
             hits AS (SELECT * FROM tok WHERE t IN ('spark', 'join')),
             wins AS (SELECT s.doc_id, s.pos AS p0,
                             count(DISTINCT h.t) AS n_terms
                      FROM hits s JOIN hits h ON s.doc_id = h.doc_id
                       AND h.pos >= s.pos AND h.pos < s.pos + {SNIPPET_W}
                      GROUP BY 1, 2),
             r AS (SELECT doc_id, p0, n_terms,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY n_terms DESC, p0)
                              AS rn
                   FROM wins)
        SELECT doc_id, p0 AS best_pos, n_terms FROM r
        WHERE rn = 1 ORDER BY doc_id
    """


def _bm25f_topk_sql() -> str:
    from deusu_spark.pipelines import BM25F_TITLE_BOOST, BM25F_TITLE_W

    return f"""
        WITH {_POSTOK},
             fielded AS (SELECT doc_id, t,
                                CASE WHEN pos < {BM25F_TITLE_W}
                                     THEN {BM25F_TITLE_BOOST}
                                     ELSE 1.0 END AS w
                         FROM tok),
             wdl AS (SELECT doc_id, sum(w) AS wdl FROM fielded GROUP BY 1),
             aw AS (SELECT avg(wdl) AS avg_wdl FROM wdl),
             nn AS (SELECT count(*) AS n FROM documents),
             wtf AS (SELECT doc_id, t, sum(w) AS wtf FROM fielded
                     WHERE t IN ('spark', 'join') GROUP BY 1, 2),
             dfs AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok
                     WHERE t IN ('spark', 'join') GROUP BY 1),
             s AS (SELECT doc_id,
                          round(sum(ln(1.0 + (nn.n - dfs.df + 0.5)
                                             / (dfs.df + 0.5))
                                * wtf * (1.2 + 1.0)
                                / (wtf + 1.2 * (1 - 0.75
                                     + 0.75 * wdl.wdl / aw.avg_wdl))), 5)
                              AS score
                   FROM wtf JOIN dfs USING (t) JOIN wdl USING (doc_id),
                        nn, aw
                   GROUP BY doc_id)
        SELECT doc_id, score FROM s ORDER BY score DESC, doc_id LIMIT 20
    """


_BRUTE_COS_SQL = """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
                 sims AS (
                     SELECT vec_id,
                            (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                             FROM (SELECT unnest(e.embedding) AS x,
                                          unnest(q.qe) AS y)) /
                            (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                                   FROM (SELECT unnest(e.embedding) AS x))) *
                             sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
                                   FROM (SELECT unnest(q.qe) AS y)))) AS sim
                     FROM embeddings e, q WHERE e.vec_id <> 0)
            SELECT vec_id, round(sim, 4) AS cos_sim
            FROM sims ORDER BY cos_sim DESC, vec_id LIMIT 15
        """


def _ann_recall_sql() -> str:
    from deusu_spark.pipelines import ANN_RECALL_K

    return f"""
        WITH ivf AS ({_ann_ivf_sql()}),
             brute AS ({_BRUTE_COS_SQL})
        SELECT {ANN_RECALL_K} AS k, count(*) AS n_common,
               round(count(*) / {float(ANN_RECALL_K)}, 6) AS recall
        FROM ivf JOIN brute USING (vec_id)
    """


def _weighted_median_sql() -> str:
    return """
        WITH cum AS (SELECT l_returnflag, l_extendedprice,
                            sum(l_quantity) OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber
                                ROWS UNBOUNDED PRECEDING) AS cumw,
                            sum(l_quantity) OVER (PARTITION BY l_returnflag)
                                AS w,
                            count(*) OVER (PARTITION BY l_returnflag)
                                AS n_rows
                     FROM lineitem),
             hit AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, cumw) AS rn
                     FROM cum WHERE cumw >= w / 2.0)
        SELECT l_returnflag, n_rows, round(w, 2) AS total_weight,
               round(l_extendedprice, 2) AS weighted_median
        FROM hit WHERE rn = 1 ORDER BY l_returnflag
    """


def _quota_sample_sql() -> str:
    return f"""
        WITH alloc AS (SELECT lang, alloc FROM ({_quota_allocation_sql()})),
             r AS (SELECT doc_id, lang,
                          row_number() OVER (PARTITION BY lang
                              ORDER BY md5('qs:' || CAST(doc_id AS VARCHAR)),
                                       doc_id) AS rk
                   FROM documents)
        SELECT doc_id, lang FROM r JOIN alloc USING (lang)
        WHERE rk <= alloc ORDER BY doc_id
    """


def _hash_uniformity_sql() -> str:
    from deusu_spark.pipelines import HASH_BUCKETS, _hex15_to_long_sql

    h = _hex15_to_long_sql("strpos", "md5(t)")
    return f"""
        WITH terms AS (SELECT DISTINCT t FROM ({_TOKS})),
             per AS (SELECT CAST(({h}) % {HASH_BUCKETS} AS INTEGER)
                                AS bucket,
                            count(*) AS o
                     FROM terms GROUP BY 1),
             tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_terms,
                            count(*) AS n_buckets FROM per)
        SELECT (SELECT n_terms FROM tot) AS n_terms,
               (SELECT n_buckets FROM tot) AS n_buckets,
               CAST(min(o) AS BIGINT) AS min_bucket,
               CAST(max(o) AS BIGINT) AS max_bucket,
               round(sum(pow(o - (SELECT n_terms FROM tot)
                                 / {float(HASH_BUCKETS)}, 2)
                         / ((SELECT n_terms FROM tot)
                            / {float(HASH_BUCKETS)})), 4) AS chi2
        FROM per
    """


def _robust_trend_sql() -> str:
    return """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
                       FROM events GROUP BY 1),
             idx AS (SELECT row_number() OVER (ORDER BY day) AS i,
                            cnt * 1.0 AS x
                     FROM daily),
             pairs AS (SELECT sign(b.x - a.x) AS sgn,
                              (b.x - a.x) / (b.i - a.i) AS slope
                       FROM idx a JOIN idx b ON a.i < b.i),
             s_agg AS (SELECT CAST(sum(sgn) AS BIGINT) AS s,
                              count(*) AS m
                       FROM pairs),
             nn AS (SELECT count(*) AS n FROM idx),
             ties AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                                 AS tie_adj
                      FROM (SELECT count(*) AS t FROM idx
                            GROUP BY x HAVING count(*) > 1)),
             ranked AS (SELECT slope,
                               row_number() OVER (ORDER BY slope) AS r
                        FROM pairs),
             sen AS (SELECT slope AS sen_slope FROM ranked, s_agg
                     WHERE r = CAST(floor((m + 1) / 2) AS BIGINT)),
             v AS (SELECT n, s,
                          (n * (n - 1) * (2 * n + 5) - tie_adj) / 18.0
                              AS var_s
                   FROM s_agg, nn, ties)
        SELECT n AS n_days, s, round(var_s, 4) AS var_s,
               round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                          WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                          ELSE 0.0 END, 6) AS z,
               round(sen_slope, 6) AS sen_slope
        FROM v, sen
    """


def _interarrival_fit_sql() -> str:
    return """
        WITH g AS (SELECT (epoch_us(ts)
                           - lag(epoch_us(ts))
                               OVER (ORDER BY ts, event_id)) / 1000000.0
                              AS dt
                   FROM events),
             gaps AS (SELECT dt FROM g WHERE dt IS NOT NULL),
             nm AS (SELECT count(*) AS n, avg(dt) AS mean_dt FROM gaps),
             ranked AS (SELECT dt, row_number() OVER (ORDER BY dt) AS r
                        FROM gaps),
             d AS (SELECT max(abs(r * 1.0 / (SELECT n FROM nm)
                           - (1.0 - exp(-dt / (SELECT mean_dt FROM nm)))))
                              AS ks_d
                   FROM ranked)
        SELECT (SELECT n FROM nm) AS n_gaps,
               round(1.0 / (SELECT mean_dt FROM nm), 9) AS lambda,
               round(ks_d, 6) AS ks_d
        FROM d
    """


def _mutual_nn_sql() -> str:
    from deusu_spark.pipelines import MNN_MAX_VEC

    return f"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id < {MNN_MAX_VEC}),
             longv AS (SELECT vec_id, i AS idx,
                              CAST(embedding[i] AS DOUBLE) AS val
                       FROM (SELECT vec_id, embedding,
                                    unnest(range(1, len(embedding) + 1))
                                        AS i
                             FROM e)),
             nrm AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm
                     FROM longv GROUP BY 1),
             dots AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                             sum(a.val * b.val) AS dot
                      FROM longv a JOIN longv b
                        ON a.idx = b.idx AND a.vec_id <> b.vec_id
                      GROUP BY 1, 2),
             cos AS (SELECT va, vb,
                            round(dot / (na.nrm * nb.nrm), 6) AS cos
                     FROM dots
                     JOIN nrm na ON na.vec_id = va
                     JOIN nrm nb ON nb.vec_id = vb),
             top1 AS (SELECT va, vb, cos FROM (
                          SELECT va, vb, cos,
                                 row_number() OVER (PARTITION BY va
                                                    ORDER BY cos DESC, vb)
                                     AS rn
                          FROM cos)
                      WHERE rn = 1)
        SELECT t.va AS vec_a, t.vb AS vec_b, t.cos
        FROM top1 t JOIN top1 u ON t.va = u.vb AND t.vb = u.va
        WHERE t.va < t.vb ORDER BY vec_a
    """


def _lang_confusion_sql() -> str:
    return f"""
        WITH pred AS ({_lang_id_sql()}),
             cells AS (SELECT d.lang AS actual, pred_lang AS predicted,
                              count(*) AS n
                       FROM pred JOIN documents d USING (doc_id)
                       GROUP BY 1, 2)
        SELECT actual, predicted, n,
               round(n * 1.0 / sum(n) OVER (PARTITION BY actual), 6)
                   AS frac_of_actual
        FROM cells ORDER BY actual, predicted
    """


def _bigram_perplexity_sql() -> str:
    from deusu_spark.pipelines import BIGRAM_K

    return f"""
        WITH arr AS (SELECT doc_id,
                            list_filter(regexp_split_to_array(lower(text),
                                        '[^a-z0-9]+'), x -> x <> '') AS a
                     FROM documents WHERE doc_id < 300),
             bg AS (SELECT doc_id, a[i] AS t1, a[i+1] AS t2
                    FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i
                          FROM arr WHERE len(a) >= 2)),
             c12 AS (SELECT t1, t2, count(*) AS c12 FROM bg GROUP BY 1, 2),
             c1 AS (SELECT t1, count(*) AS c1 FROM bg GROUP BY 1),
             v AS (SELECT count(DISTINCT t) AS v
                   FROM (SELECT unnest(a) AS t FROM arr WHERE len(a) >= 2))
        SELECT doc_id, count(*) AS n_bigrams,
               round(avg(ln((c12 + {BIGRAM_K})
                            / (c1 + {BIGRAM_K} * (SELECT v FROM v)))),
                     5) AS avg_lnp,
               round(exp(-avg(ln((c12 + {BIGRAM_K})
                                 / (c1 + {BIGRAM_K} * (SELECT v FROM v))))),
                     4) AS perplexity
        FROM bg JOIN c12 USING (t1, t2) JOIN c1 USING (t1)
        WHERE doc_id < 150
        GROUP BY doc_id ORDER BY doc_id
    """


def _ndcg_eval_sql() -> str:
    from deusu_spark.pipelines import NDCG_K

    return f"""
        WITH tok AS ({_TOKS}),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
             ad AS (SELECT avg(dl) AS avgdl FROM dl),
             nn AS (SELECT count(*) AS n FROM documents),
             qt AS (SELECT DISTINCT doc_id, t FROM tok
                    WHERE t IN ('spark', 'join')),
             dfs AS (SELECT t, count(*) AS df FROM qt GROUP BY t),
             scored AS (
                 SELECT doc_id,
                        round(sum(ln(1.0 + (nn.n - dfs.df + 0.5)
                                           / (dfs.df + 0.5))
                              * (1.2 + 1.0) * 1.0
                              / (1.0 + 1.2 * (1 - 0.75
                                              + 0.75 * dl.dl / ad.avgdl))),
                              5) AS score
                 FROM qt JOIN dfs USING (t) JOIN dl USING (doc_id), nn, ad
                 GROUP BY doc_id
                 ORDER BY score DESC, doc_id LIMIT 20),
             ranked AS (SELECT doc_id,
                               row_number() OVER (ORDER BY score DESC,
                                                  doc_id) AS i
                        FROM scored),
             rel AS (SELECT doc_id, count(*) AS rel FROM qt GROUP BY doc_id),
             dcg AS (SELECT sum((pow(2.0, coalesce(rel, 0)) - 1.0)
                                / log2(i + 1.0)) AS dcg,
                            max(CASE WHEN coalesce(rel, 0) > 0
                                     THEN 1.0 / i ELSE 0.0 END) AS mrr
                     FROM ranked LEFT JOIN rel USING (doc_id)
                     WHERE i <= {NDCG_K}),
             ideal AS (SELECT rel,
                              row_number() OVER (ORDER BY rel DESC,
                                                 doc_id) AS i
                       FROM rel),
             idcg AS (SELECT sum((pow(2.0, rel) - 1.0)
                                 / log2(i + 1.0)) AS idcg
                      FROM ideal WHERE i <= {NDCG_K})
        SELECT {NDCG_K} AS k, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
               round(dcg / idcg, 6) AS ndcg, round(mrr, 6) AS mrr
        FROM dcg, idcg
    """


def _ridge_regression_sql() -> str:
    from deusu_spark.pipelines import RIDGE_LAMBDA as LAM

    return f"""
        WITH agg AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
                            sum(l_quantity) AS s1, sum(l_discount) AS s2,
                            sum(l_extendedprice) AS sy,
                            sum(l_quantity * l_quantity) AS s11,
                            sum(l_discount * l_discount) AS s22,
                            sum(l_quantity * l_discount) AS s12,
                            sum(l_quantity * l_extendedprice) AS s1y,
                            sum(l_discount * l_extendedprice) AS s2y
                     FROM lineitem GROUP BY 1),
             m AS (SELECT l_returnflag, n, s1, s2, sy,
                          s11 - s1 * s1 / n + {LAM} AS a11,
                          s22 - s2 * s2 / n + {LAM} AS a22,
                          s12 - s1 * s2 / n AS a12,
                          s1y - s1 * sy / n AS b1,
                          s2y - s2 * sy / n AS b2
                   FROM agg),
             sol AS (SELECT l_returnflag, n, s1, s2, sy,
                            (b1 * a22 - b2 * a12)
                                / (a11 * a22 - a12 * a12) AS beta1,
                            (a11 * b2 - a12 * b1)
                                / (a11 * a22 - a12 * a12) AS beta2
                     FROM m)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               round((sy - beta1 * s1 - beta2 * s2) / n, 3) AS beta0,
               round(beta1, 3) AS beta_qty,
               round(beta2, 3) AS beta_disc
        FROM sol ORDER BY l_returnflag
    """


def _nb_classifier_sql() -> str:
    from deusu_spark.pipelines import NB_ALPHA as A, NB_TEST_MOD as M

    return f"""
        WITH toks AS ({_TOKS}),
             train AS (SELECT doc_id, lang FROM documents
                       WHERE doc_id % {M} <> 0),
             test AS (SELECT doc_id, lang FROM documents
                      WHERE doc_id % {M} = 0),
             ttok AS (SELECT tk.doc_id, tk.t, tr.lang
                      FROM toks tk JOIN train tr USING (doc_id)),
             cnt AS (SELECT lang, t, count(*) AS c FROM ttok GROUP BY 1, 2),
             tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot
                     FROM cnt GROUP BY 1),
             v AS (SELECT count(DISTINCT t) AS v FROM cnt),
             prior AS (SELECT lang,
                              ln(count(*) * 1.0
                                 / (SELECT count(*) FROM train)) AS lprior
                       FROM train GROUP BY 1),
             model AS (SELECT c.lang, c.t,
                              ln((c.c + {A}) * 1.0
                                 / (tot.tot + {A} * (SELECT v FROM v))) AS lp
                       FROM cnt c JOIN tot USING (lang)),
             flo AS (SELECT lang,
                            ln({A} * 1.0
                               / (tot + {A} * (SELECT v FROM v))) AS lfloor
                     FROM tot),
             testtok AS (SELECT doc_id, t FROM toks
                         WHERE doc_id % {M} = 0),
             grid AS (SELECT tt.doc_id, f.lang,
                             coalesce(m.lp, f.lfloor) AS lp
                      FROM testtok tt CROSS JOIN flo f
                      LEFT JOIN model m
                        ON m.lang = f.lang AND m.t = tt.t),
             ssum AS (SELECT doc_id, lang, sum(lp) AS s
                      FROM grid GROUP BY 1, 2),
             scored AS (SELECT s.doc_id, s.lang,
                               round(s.s + p.lprior, 5) AS score
                        FROM ssum s JOIN prior p USING (lang)),
             best AS (SELECT doc_id, lang AS pred, score,
                             row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, lang) AS rn
                      FROM scored)
        SELECT b.doc_id, te.lang AS actual, b.pred, b.score
        FROM best b JOIN test te USING (doc_id)
        WHERE b.rn = 1 ORDER BY b.doc_id
    """


def _logrank_test_sql() -> str:
    from deusu_spark.pipelines import KM_HORIZON_DAYS as H

    return f"""
        WITH firsts AS (SELECT user_id, min(ts) AS first_ts
                        FROM events GROUP BY 1),
             purch AS (SELECT user_id, min(ts) AS p_ts FROM events
                       WHERE event_type = 'purchase' GROUP BY 1),
             per AS (SELECT user_id, user_id % 2 AS grp,
                            CASE WHEN days_to_p IS NOT NULL
                                  AND days_to_p <= {H}
                                 THEN 1 ELSE 0 END AS event,
                            CASE WHEN days_to_p IS NOT NULL
                                  AND days_to_p <= {H}
                                 THEN days_to_p ELSE {H} END AS duration
                     FROM (SELECT f.user_id,
                                  date_diff('day', first_ts, p_ts)
                                      AS days_to_p
                           FROM firsts f LEFT JOIN purch USING (user_id))),
             tbl AS (SELECT duration, sum(event) AS d,
                            sum(CASE WHEN grp = 1 THEN event ELSE 0 END)
                                AS d1,
                            count(*) AS m,
                            sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS m1
                     FROM per GROUP BY 1),
             tot AS (SELECT count(*) AS ntot,
                            sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS ntot1
                     FROM per),
             risk AS (SELECT duration, d, d1,
                             (SELECT ntot FROM tot)
                                 - coalesce(sum(m) OVER (ORDER BY duration
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n,
                             (SELECT ntot1 FROM tot)
                                 - coalesce(sum(m1) OVER (ORDER BY duration
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n1
                      FROM tbl),
             r AS (SELECT * FROM risk WHERE d > 0)
        SELECT CAST(sum(d1) AS BIGINT) AS o1,
               round(sum(d * n1 / n), 6) AS e1,
               round(sum(d * (n1 / n) * (1.0 - n1 / n) * (n - d)
                         / (CASE WHEN n > 1 THEN n - 1 ELSE 1 END)), 6)
                   AS var1,
               round(pow(sum(d1 - d * n1 / n), 2)
                     / sum(d * (n1 / n) * (1.0 - n1 / n) * (n - d)
                           / (CASE WHEN n > 1 THEN n - 1 ELSE 1 END)), 6)
                   AS chi2
        FROM r
    """


def _lift_gains_sql() -> str:
    from deusu_spark.pipelines import LIFT_DECILES as D

    return f"""
        WITH u AS (SELECT user_id, count(*) AS n_ev,
                          max(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS pos
                   FROM events GROUP BY 1),
             dec AS (SELECT *, ntile({D}) OVER (ORDER BY n_ev DESC, user_id)
                                AS decile
                     FROM u),
             per AS (SELECT decile, count(*) AS n_users,
                            CAST(sum(pos) AS BIGINT) AS n_pos
                     FROM dec GROUP BY 1),
             tot AS (SELECT sum(n_users) AS tu, sum(n_pos) AS tp FROM per)
        SELECT decile, n_users, n_pos,
               round(n_pos * 1.0 / n_users, 6) AS pos_rate,
               round(sum(n_pos) OVER (ORDER BY decile) * 1.0
                     / (SELECT tp FROM tot), 6) AS cum_gain,
               round((n_pos * 1.0 / n_users)
                     / ((SELECT tp FROM tot) * 1.0
                        / (SELECT tu FROM tot)), 6) AS lift
        FROM per ORDER BY decile
    """


_COPURCHASE_EDGES = """
        items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
            SELECT a.l_partkey AS s, b.l_partkey AS d
            FROM items a JOIN items b USING (l_orderkey)
            WHERE a.l_partkey <> b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= {minw}
        )"""


def _kcore_sql() -> str:
    from deusu_spark.pipelines import KCORE_K as K
    from deusu_spark.pipelines import KCORE_MINW, KCORE_ROUNDS

    # a{i} reads a{i - 1} twice, so inlined CTEs double the plan per round
    # (KCORE_ROUNDS=8: 256 copies of the edges self-join, minutes of CPU
    # in DuckDB). MATERIALIZED evaluates each CTE once; the result is the
    # same.
    edges = _COPURCHASE_EDGES.format(minw=KCORE_MINW).replace(
        " AS (", " AS MATERIALIZED ("
    )
    rounds = ["a0 AS MATERIALIZED (SELECT DISTINCT s AS v FROM edges)"]
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"a{i} AS MATERIALIZED (SELECT e.s AS v FROM edges e "
            f"JOIN a{i - 1} x ON e.s = x.v JOIN a{i - 1} y ON e.d = y.v "
            f"GROUP BY e.s HAVING count(*) >= {K})"
        )
    chain = ",\n             ".join(rounds)
    last = f"a{KCORE_ROUNDS}"
    return f"""
        WITH {edges},
             {chain}
        SELECT e.s AS part, count(*) AS core_deg
        FROM edges e JOIN {last} x ON e.s = x.v JOIN {last} y ON e.d = y.v
        GROUP BY e.s ORDER BY part
    """


def _closeness_harmonic_sql() -> str:
    from deusu_spark.pipelines import (
        CLOSE_HOPS,
        CLOSE_SEED_MOD,
        KCORE_MINW,
    )

    return f"""
        WITH RECURSIVE {_COPURCHASE_EDGES.format(minw=KCORE_MINW)},
        walk(seed, v, hop) AS (
            SELECT s, s, 0 FROM (SELECT DISTINCT s FROM edges)
            WHERE s % {CLOSE_SEED_MOD} = 0
            UNION
            SELECT w.seed, e.d, w.hop + 1
            FROM walk w JOIN edges e ON w.v = e.s
            WHERE w.hop < {CLOSE_HOPS}
        ),
        md AS (SELECT seed, v, min(hop) AS dist FROM walk GROUP BY 1, 2)
        SELECT seed, count(*) AS n_reached,
               round(sum(1.0 / dist), 6) AS harmonic
        FROM md WHERE dist > 0 GROUP BY seed ORDER BY seed
    """


def _consistent_hash_sql() -> str:
    from deusu_spark.pipelines import (
        CH_NODES_AFTER,
        CH_NODES_BEFORE,
        CH_VNODES,
        _hex15_to_long_sql,
    )

    rpos = _hex15_to_long_sql(
        "strpos",
        "md5(concat('ring:', CAST(node AS VARCHAR), ':', "
        "CAST(vnode AS VARCHAR)))",
    )
    kh = _hex15_to_long_sql(
        "strpos", "md5(concat('key:', CAST(user_id AS VARCHAR)))"
    )

    def ring(name, n):
        return (
            f"{name} AS (SELECT CAST(r1.range AS INT) AS node, "
            f"CAST(r2.range AS INT) AS vnode, {rpos} AS pos "
            f"FROM range(0, {n}) r1, range(0, {CH_VNODES}) r2)"
        )

    def assign_ctes(tag, ringname):
        return f"""{tag}c AS (SELECT k.user_id,
                            min(CASE WHEN r.pos >= k.kh
                                THEN r.pos END) AS mn
                     FROM keys k CROSS JOIN {ringname} r GROUP BY 1),
             {tag}w AS (SELECT min(pos) AS wrap FROM {ringname}),
             {tag} AS (SELECT c.user_id, r.node
                       FROM {tag}c c CROSS JOIN {tag}w w
                       JOIN {ringname} r
                         ON r.pos = coalesce(c.mn, w.wrap))"""

    return f"""
        WITH {ring("ring_b", CH_NODES_BEFORE)},
             {ring("ring_a", CH_NODES_AFTER)},
             keys AS (SELECT user_id, {kh} AS kh
                      FROM (SELECT DISTINCT user_id FROM events)),
             {assign_ctes("ab", "ring_b")},
             {assign_ctes("aa", "ring_a")},
             j AS (SELECT b.user_id, b.node AS node_b, a.node AS node_a
                   FROM ab b JOIN aa a USING (user_id)),
             aft AS (SELECT node_a AS node, count(*) AS n_after,
                            CAST(sum(CASE WHEN node_b <> node_a
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_gained
                     FROM j GROUP BY 1),
             bef AS (SELECT node AS node, count(*) AS n_before
                     FROM ab GROUP BY 1)
        SELECT a.node, coalesce(b.n_before, 0) AS n_before,
               a.n_after, a.n_gained
        FROM aft a LEFT JOIN bef b USING (node) ORDER BY a.node
    """


def _holt_winters_sql() -> str:
    from deusu_spark.pipelines import (
        HW_ALPHA,
        HW_BETA,
        HW_GAMMA,
        HW_PERIOD,
    )

    m = HW_PERIOD
    a = f"CAST({HW_ALPHA} AS DOUBLE)"
    bt = f"CAST({HW_BETA} AS DOUBLE)"
    g = f"CAST({HW_GAMMA} AS DOUBLE)"
    # l' appears inside b' and s' — expand it textually, exactly like the
    # Spark fold duplicates the column expression
    lnew = f"({a} * (idx.x - h.s[1]) + (1 - {a}) * (h.l + h.b))"
    return f"""
        WITH RECURSIVE
             hourly AS (SELECT date_trunc('hour', ts) AS hour,
                               CAST(count(*) AS DOUBLE) AS x
                        FROM events GROUP BY 1),
             bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
                               date_trunc('hour', max(ts)) AS hi
                        FROM events),
             grid AS (SELECT unnest(generate_series(lo, hi,
                          INTERVAL 1 HOUR)) AS hour FROM bounds),
             dense AS (SELECT g2.hour, coalesce(h2.x, 0.0) AS x
                       FROM grid g2 LEFT JOIN hourly h2 USING (hour)),
             idx AS (SELECT row_number() OVER (ORDER BY hour) AS i, x
                     FROM dense),
             n AS (SELECT count(*) AS t FROM idx),
             init AS (SELECT
                 (SELECT sum(x) FROM idx WHERE i <= {m}) / {m} AS l0,
                 ((SELECT sum(x) FROM idx
                   WHERE i > {m} AND i <= {2 * m}) / {m}
                  - (SELECT sum(x) FROM idx WHERE i <= {m}) / {m})
                     / {m} AS b0,
                 (SELECT list(x - (SELECT sum(x) FROM idx
                                   WHERE i <= {m}) / {m} ORDER BY i)
                  FROM idx WHERE i <= {m}) AS s0),
             h(i, l, b, s) AS (
                 SELECT {m}, l0, b0, s0 FROM init
                 UNION ALL
                 SELECT h.i + 1,
                        {lnew},
                        {bt} * ({lnew} - h.l) + (1 - {bt}) * h.b,
                        h.s[2:{m}]
                            || [{g} * (idx.x - {lnew}) + (1 - {g}) * h.s[1]]
                 FROM h JOIN idx ON idx.i = h.i + 1)
        SELECT CAST((SELECT t FROM n) AS INT) AS n_hours,
               round(l, 6) AS level, round(b, 6) AS trend,
               round(l + b + s[1], 6) AS forecast_h1,
               round(l + {m} * b + s[{m}], 6) AS forecast_h{m}
        FROM h WHERE i = (SELECT t FROM n)
    """


def _silhouette_sql() -> str:
    from deusu_spark.pipelines import SIL_MAX_VEC as V

    return f"""
        WITH e AS (SELECT vec_id, label, embedding FROM embeddings
                   WHERE vec_id < {V}),
             pairs AS (SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
                 (SELECT sum((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                             * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))
                  FROM (SELECT unnest(a.embedding) AS x,
                               unnest(b.embedding) AS y)) AS d2
                 FROM e a JOIN e b ON a.vec_id <> b.vec_id),
             per AS (SELECT i, li, lj, avg(d2) AS ad
                     FROM pairs GROUP BY 1, 2, 3),
             ai AS (SELECT i, li, ad AS a FROM per WHERE lj = li),
             bi AS (SELECT i, min(ad) AS b FROM per WHERE lj <> li
                    GROUP BY 1),
             sil AS (SELECT ai.i, ai.li,
                            (bi.b - ai.a) / greatest(ai.a, bi.b) AS s
                     FROM ai JOIN bi USING (i))
        SELECT li AS label, count(*) AS n,
               round(avg(s), 4) AS mean_silhouette
        FROM sil GROUP BY 1 ORDER BY 1
    """


def _personalized_pagerank_sql() -> str:
    from deusu_spark.pipelines import PPR_ITERS, PPR_SEED_MOD, PR_DAMP

    d = PR_DAMP
    ctes = [
        "pairs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cn, "
        "'s' || CAST(l_suppkey AS VARCHAR) AS sn "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)",
        "edges AS (SELECT cn AS src, sn AS dst FROM pairs "
        "UNION ALL SELECT sn, cn FROM pairs)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "seeds AS (SELECT src AS node FROM deg WHERE src LIKE 'c%' "
        f"AND CAST(substr(src, 2) AS BIGINT) % {PPR_SEED_MOD} = 0)",
        "kk AS (SELECT count(*) AS k FROM seeds)",
        f"sb AS (SELECT node, (CAST(1 AS DOUBLE) - {d}) "
        "/ (SELECT k FROM kk) AS b FROM seeds)",
        "r0 AS (SELECT src AS node, "
        "CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg)",
    ]
    for i in range(PPR_ITERS):
        ctes.append(
            f"r{i + 1} AS (SELECT e.dst AS node, "
            f"round(coalesce(s.b, 0) + {d} * sum(r.pr / dg.outdeg), 9) "
            f"AS pr "
            f"FROM edges e JOIN r{i} r ON e.src = r.node "
            f"JOIN deg dg ON dg.src = e.src "
            f"LEFT JOIN sb s ON s.node = e.dst "
            f"GROUP BY e.dst, s.b)"
        )
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"\nSELECT node, round(pr, 6) AS ppr FROM r{PPR_ITERS} "
        "ORDER BY node"
    )


def _pr_curve_sql() -> str:
    from deusu_spark.pipelines import CALIB_BINS as B

    return f"""
        WITH {_ft_p_ctes()},
             l AS (SELECT s.doc_id, p,
                          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                   FROM s JOIN documents d ON s.doc_id = d.doc_id),
             per AS (SELECT least(CAST(floor(p * {B}) AS INTEGER),
                                  {B - 1}) AS bin,
                            count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
                     FROM l GROUP BY 1),
             tot AS (SELECT sum(npos) AS allpos FROM per),
             c AS (SELECT bin, n, npos,
                          sum(n) OVER (ORDER BY bin DESC
                              ROWS UNBOUNDED PRECEDING) AS pp,
                          sum(npos) OVER (ORDER BY bin DESC
                              ROWS UNBOUNDED PRECEDING) AS tp
                   FROM per)
        SELECT round(bin * 1.0 / {B}, 2) AS threshold,
               CAST(pp AS BIGINT) AS n_predicted_pos,
               CAST(tp AS BIGINT) AS n_true_pos,
               round(tp * 1.0 / pp, 6) AS precision,
               round(tp * 1.0 / (SELECT allpos FROM tot), 6) AS recall,
               round(2.0 * tp / (pp + (SELECT allpos FROM tot)), 6) AS f1
        FROM c ORDER BY threshold
    """


def _dtw_distance_sql() -> str:
    from deusu_spark.pipelines import DTW_A, DTW_B

    return f"""
        WITH RECURSIVE
             daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                              CAST(count(*) AS DOUBLE) AS x
                       FROM events GROUP BY 1, 2),
             bounds AS (SELECT CAST(min(ts) AS DATE) AS lo,
                               CAST(max(ts) AS DATE) AS hi FROM events),
             grid AS (SELECT CAST(unnest(generate_series(lo, hi,
                          INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
             sa AS (SELECT list(coalesce(d.x, 0.0) ORDER BY g.day) AS a
                    FROM grid g LEFT JOIN daily d
                      ON d.day = g.day AND d.event_type = '{DTW_A}'),
             sb AS (SELECT list(coalesce(d.x, 0.0) ORDER BY g.day) AS b
                    FROM grid g LEFT JOIN daily d
                      ON d.day = g.day AND d.event_type = '{DTW_B}'),
             idx AS (SELECT unnest(a) AS x, generate_subscripts(a, 1) AS i
                     FROM sa),
             n AS (SELECT len(a) AS t FROM sa),
             h(i, s) AS (
                 SELECT 0, list_prepend(0.0,
                     list_transform((SELECT b FROM sb), v -> 1e18))
                 UNION ALL
                 SELECT h.i + 1,
                        list_reduce(
                            list_prepend([1e18]::DOUBLE[],
                                list_transform((SELECT b FROM sb),
                                               v -> [v])),
                            (acc, x2) -> list_append(acc,
                                abs(idx.x - x2[1])
                                + least(h.s[len(acc)],
                                        h.s[len(acc) + 1],
                                        acc[len(acc)])))
                 FROM h JOIN idx ON idx.i = h.i + 1)
        SELECT CAST((SELECT t FROM n) AS INT) AS n_a,
               CAST((SELECT len(b) FROM sb) AS INT) AS n_b,
               s[len(s)] AS dtw,
               round(s[len(s)] / ((SELECT t FROM n)
                                  + (SELECT len(b) FROM sb)), 6)
                   AS dtw_per_step
        FROM h WHERE i = (SELECT t FROM n)
    """


def _ffd_bin_packing_sql() -> str:
    from deusu_spark.pipelines import FFD_FILES, FFD_TARGET_BINS

    cap = "cap.c"
    return f"""
        WITH items AS (SELECT o_orderkey % {FFD_FILES} AS fid,
                              count(*) AS sz
                       FROM orders GROUP BY 1),
             cap AS (SELECT CAST(ceil(sum(sz) * 1.0 / {FFD_TARGET_BINS})
                                 AS BIGINT) AS c FROM items),
             arr AS (SELECT list(sz ORDER BY sz DESC, fid) AS a
                     FROM items),
             folded AS (SELECT list_reduce(
                 list_prepend([]::BIGINT[], list_transform(a, s -> [s])),
                 (acc, x) -> CASE
                     WHEN coalesce(list_position(
                             list_transform(acc, l -> l + x[1] <= {cap}),
                             true), 0) = 0
                     THEN list_append(acc, x[1])
                     ELSE list_transform(acc, (l, i) -> CASE
                         WHEN i = list_position(
                             list_transform(acc, l2 -> l2 + x[1] <= {cap}),
                             true)
                         THEN l + x[1] ELSE l END)
                     END) AS bins
                 FROM arr CROSS JOIN cap)
        SELECT CAST(generate_subscripts(bins, 1) AS INT) AS bin,
               unnest(bins) AS load
        FROM folded ORDER BY bin
    """


def _pl2_topk_sql() -> str:
    from deusu_spark.pipelines import (
        PL2_C,
        PL2_LOG2E,
        PL2_TOPK,
        PL2_TWO_PI,
        QLM_MAX_DOC,
        QLM_TERMS,
    )

    terms = ", ".join(f"'{t}'" for t in QLM_TERMS)
    l2e = f"CAST({PL2_LOG2E} AS DOUBLE)"
    twopi = f"CAST({PL2_TWO_PI} AS DOUBLE)"
    return f"""
        WITH d AS (SELECT doc_id, text FROM documents
                   WHERE doc_id < {QLM_MAX_DOC}),
             tok AS (SELECT doc_id, t FROM (
                         SELECT doc_id, unnest(regexp_split_to_array(
                             lower(text), '[^a-z0-9]+')) AS t FROM d)
                     WHERE t <> ''),
             tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
                    GROUP BY 1, 2),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
             nn AS (SELECT count(*) AS n FROM d),
             ad AS (SELECT sum(dl) * 1.0 / (SELECT n FROM nn) AS avgdl
                    FROM dl),
             q AS (SELECT unnest([{terms}]) AS t),
             coll AS (SELECT t, count(*) AS ctf FROM tok JOIN q USING (t)
                      GROUP BY 1),
             base AS (SELECT tf.doc_id, tf.tf, dl.dl, coll.ctf
                      FROM tf JOIN q USING (t) JOIN dl USING (doc_id)
                      JOIN coll USING (t)),
             ex AS (SELECT doc_id,
                           tf * log2(1.0 + ({PL2_C}
                               * (SELECT avgdl FROM ad)) / dl) AS tfn,
                           ctf / CAST((SELECT n FROM nn) AS DOUBLE) AS lam
                    FROM base),
             sc AS (SELECT doc_id,
                           round(sum((tfn * log2(tfn / lam)
                                      + (lam - tfn) * {l2e}
                                      + 0.5 * log2({twopi} * tfn))
                                     / (tfn + 1.0)), 5) AS score
                    FROM ex GROUP BY 1),
             top AS (SELECT doc_id, score,
                            row_number() OVER (ORDER BY score DESC, doc_id)
                                AS rn
                     FROM sc)
        SELECT doc_id, score FROM top WHERE rn <= {PL2_TOPK}
        ORDER BY doc_id
    """


def _maxsim_topk_sql() -> str:
    from deusu_spark.pipelines import (
        MAXSIM_DIMS,
        MAXSIM_MAX_DOC,
        MAXSIM_TOPK,
        QLM_TERMS,
    )

    terms = ", ".join(f"'{t}'" for t in QLM_TERMS)
    return f"""
        WITH d AS (SELECT doc_id, text FROM documents
                   WHERE doc_id < {MAXSIM_MAX_DOC}),
             dv AS (SELECT DISTINCT doc_id, t FROM (
                        SELECT doc_id, unnest(regexp_split_to_array(
                            lower(text), '[^a-z0-9]+')) AS t FROM d)
                    WHERE t <> ''),
             q AS (SELECT unnest([{terms}]) AS qt),
             vt AS (SELECT DISTINCT t FROM dv
                    UNION SELECT qt FROM q),
             ks AS (SELECT CAST(range AS INT) AS k
                    FROM range(0, {MAXSIM_DIMS})),
             comp AS (SELECT t, k,
                 ((strpos('0123456789abcdef', substr(h2, 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(h2, 2, 1)) - 1)
                  - 127.5) / 127.5 AS c
                 FROM (SELECT t, k, substr(md5(concat('v',
                           CAST(k AS VARCHAR), ':', t)), 1, 2) AS h2
                       FROM vt CROSS JOIN ks)),
             norms AS (SELECT t, sqrt(sum(c * c)) AS nrm FROM comp
                       GROUP BY 1),
             qc AS (SELECT q.qt, c.k, c.c AS qc FROM comp c
                    JOIN q ON c.t = q.qt),
             qn AS (SELECT q.qt, n.nrm AS qn FROM norms n
                    JOIN q ON n.t = q.qt),
             dots AS (SELECT dv.doc_id, dv.t, qc.qt,
                             sum(c.c * qc.qc) AS dot
                      FROM dv JOIN comp c ON c.t = dv.t
                      JOIN qc ON qc.k = c.k
                      GROUP BY 1, 2, 3),
             coss AS (SELECT dots.doc_id, dots.qt,
                             dot / (n.nrm * qn.qn) AS cs
                      FROM dots JOIN norms n ON n.t = dots.t
                      JOIN qn ON qn.qt = dots.qt),
             ms AS (SELECT doc_id, qt, max(cs) AS ms FROM coss
                    GROUP BY 1, 2),
             sc AS (SELECT doc_id, round(sum(ms), 5) AS score FROM ms
                    GROUP BY 1),
             top AS (SELECT doc_id, score,
                            row_number() OVER (ORDER BY score DESC, doc_id)
                                AS rn
                     FROM sc)
        SELECT doc_id, score FROM top WHERE rn <= {MAXSIM_TOPK}
        ORDER BY doc_id
    """


def _greedy_max_coverage_sql() -> str:
    from deusu_spark.pipelines import COV_K, COV_MAX_DOC

    # step r reads every earlier s{i} and c{r - 1}, and c{r} reads
    # c{r - 1} and s{r}, so inlined CTEs multiply the plan per step;
    # MATERIALIZED evaluates each CTE once, with the same rows.
    ctes = [
        f"""dt AS MATERIALIZED (SELECT DISTINCT doc_id, t FROM (
                SELECT doc_id, unnest(regexp_split_to_array(lower(text),
                    '[^a-z0-9]+')) AS t FROM documents
                WHERE doc_id < {COV_MAX_DOC})
            WHERE t <> '')"""
    ]
    finals = []
    prev_sel = []
    for r in range(1, COV_K + 1):
        excl = ""
        if prev_sel:
            ins = " UNION ALL ".join(
                f"SELECT doc_id FROM {s}" for s in prev_sel
            )
            excl = f"doc_id NOT IN ({ins}) AND "
        covcond = f"AND t NOT IN (SELECT t FROM c{r - 1}) " if r > 1 else ""
        where = f"WHERE {excl}1=1 {covcond}" if (excl or covcond) else ""
        ctes.append(
            f"g{r} AS MATERIALIZED (SELECT doc_id, count(*) AS gain "
            f"FROM dt {where}"
            f"GROUP BY 1)"
        )
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT doc_id, gain FROM g{r} "
            f"ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        newtok = (
            f"SELECT t FROM dt WHERE doc_id = (SELECT doc_id FROM s{r})"
        )
        if r == 1:
            ctes.append(
                f"c1 AS MATERIALIZED (SELECT DISTINCT t FROM ({newtok}))"
            )
        else:
            ctes.append(
                f"c{r} AS MATERIALIZED "
                f"(SELECT t FROM c{r - 1} UNION {newtok})"
            )
        finals.append(
            f"SELECT {r} AS step, doc_id, gain, "
            f"(SELECT count(*) FROM c{r}) AS covered FROM s{r}"
        )
        prev_sel.append(f"s{r}")
    return (
        "WITH "
        + ",\n ".join(ctes)
        + "\n"
        + "\nUNION ALL ".join(finals)
        + "\nORDER BY step"
    )


def _linear_threshold_sql() -> str:
    from deusu_spark.pipelines import (
        CLOSE_SEED_MOD,
        KCORE_MINW,
        LT_ROUNDS,
        LT_THETA_DEN,
        LT_THETA_NUM,
    )

    ctes = [
        _COPURCHASE_EDGES.format(minw=KCORE_MINW).strip(),
        "deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY 1)",
        "a0 AS (SELECT DISTINCT s AS v, 0 AS rnd FROM edges "
        f"WHERE s % {CLOSE_SEED_MOD} = 0)",
    ]
    for r in range(1, LT_ROUNDS + 1):
        ctes.append(
            f"a{r} AS (SELECT * FROM a{r - 1} UNION ALL "
            f"SELECT x.v, {r} FROM ("
            f"SELECT e.d AS v, count(*) AS na FROM edges e "
            f"JOIN a{r - 1} p ON e.s = p.v GROUP BY 1) x "
            f"JOIN deg dg ON dg.s = x.v "
            f"WHERE x.v NOT IN (SELECT v FROM a{r - 1}) "
            f"AND x.na * {LT_THETA_DEN} >= dg.deg * {LT_THETA_NUM})"
        )
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"\nSELECT v, rnd FROM a{LT_ROUNDS} ORDER BY v"
    )


def _cuped_sql() -> str:
    from deusu_spark.pipelines import AB_SALT, CUPED_PRE_DAYS
    from deusu_spark.pipelines import _hex15_to_long_sql

    h = _hex15_to_long_sql(
        "strpos", f"md5(concat(CAST(user_id AS VARCHAR), '{AB_SALT}'))"
    )
    return f"""
        WITH cut AS (SELECT CAST(min(ts) AS DATE) + {CUPED_PRE_DAYS}
                                AS cut FROM events),
             pu AS (SELECT user_id,
                        coalesce(sum(CASE WHEN CAST(ts AS DATE)
                                < (SELECT cut FROM cut)
                            THEN value END), 0.0) AS pre,
                        coalesce(sum(CASE WHEN CAST(ts AS DATE)
                                >= (SELECT cut FROM cut)
                            THEN value END), 0.0) AS post
                    FROM events GROUP BY 1),
             pa AS (SELECT user_id,
                           CASE WHEN ({h}) % 2 = 0 THEN 'control'
                                ELSE 'treatment' END AS arm,
                           pre, post
                    FROM pu),
             g AS (SELECT count(*) AS n, sum(pre) AS sx, sum(post) AS sy,
                          sum(pre * pre) AS sxx, sum(pre * post) AS sxy
                   FROM pa),
             sc AS (SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx)
                               AS theta,
                           sx / n AS mean_pre
                    FROM g),
             adj AS (SELECT arm, post,
                            post - (SELECT theta FROM sc)
                                * (pre - (SELECT mean_pre FROM sc))
                                AS adjusted
                     FROM pa)
        SELECT arm, count(*) AS n_users,
               round(avg(post), 6) AS mean_post,
               round(avg(adjusted), 6) AS mean_adjusted,
               round(1.0 - (avg(adjusted * adjusted)
                            - avg(adjusted) * avg(adjusted))
                         / (avg(post * post) - avg(post) * avg(post)), 6)
                   AS var_reduction
        FROM adj GROUP BY 1 ORDER BY 1
    """


def _sprt_sql() -> str:
    from deusu_spark.pipelines import SPRT_BOUND, SPRT_LA, SPRT_LB

    la = f"CAST({SPRT_LA!r} AS DOUBLE)"
    lb = f"CAST({SPRT_LB!r} AS DOUBLE)"
    bd = f"CAST({SPRT_BOUND!r} AS DOUBLE)"
    return f"""
        WITH ud AS (SELECT CAST(ts AS DATE) AS day, user_id,
                           max(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS conv
                    FROM events GROUP BY 1, 2),
             daily AS (SELECT day, count(*) AS trials,
                              CAST(sum(conv) AS BIGINT) AS convs
                       FROM ud GROUP BY 1),
             c AS (SELECT *,
                          sum(convs * {la} + (trials - convs) * {lb})
                              OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                              AS cum_llr
                   FROM daily)
        SELECT day, trials, convs, round(cum_llr, 6) AS cum_llr,
               CASE WHEN cum_llr >= {bd} THEN 'accept_h1'
                    WHEN cum_llr <= -{bd} THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM c ORDER BY day
    """


def _salt_plan_sql() -> str:
    from deusu_spark.pipelines import SALT_CAP, SALT_TARGET

    sf = (
        f"least(CAST(ceil(cnt * 1.0 / {SALT_TARGET}) AS BIGINT), "
        f"{SALT_CAP})"
    )
    return f"""
        WITH h AS (SELECT l_partkey AS skey, count(*) AS cnt
                   FROM lineitem GROUP BY 1)
        SELECT skey, cnt, {sf} AS salt_factor,
               CAST(ceil(cnt * 1.0 / {sf}) AS BIGINT) AS max_rows_per_salt
        FROM h WHERE cnt > {SALT_TARGET} ORDER BY skey
    """


def _markov_attribution_sql() -> str:
    from deusu_spark.pipelines import MK_CHANNELS, MK_ITERS

    ctes = [
        """pr1 AS (SELECT user_id, ts AS pts, event_id AS pid FROM (
               SELECT user_id, ts, event_id,
                      row_number() OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prn
               FROM events WHERE event_type = 'purchase') WHERE prn = 1)""",
        """path AS (SELECT e.user_id, e.ts, e.event_id, e.event_type,
                          (p.user_id IS NOT NULL) AS conv
                   FROM events e LEFT JOIN pr1 p USING (user_id)
                   WHERE e.event_type <> 'purchase'
                     AND (p.user_id IS NULL
                          OR (e.ts, e.event_id) < (p.pts, p.pid)))""",
        """seq AS (SELECT user_id, event_type, conv,
                         row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS rn,
                         lead(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS nxt
                  FROM path)""",
        """trans AS (SELECT 'start' AS f, event_type AS t2 FROM seq
                         WHERE rn = 1
                     UNION ALL SELECT event_type, nxt FROM seq
                         WHERE nxt IS NOT NULL
                     UNION ALL SELECT event_type,
                         CASE WHEN conv THEN 'conv' ELSE 'lost' END
                         FROM seq WHERE nxt IS NULL
                     UNION ALL SELECT 'start', 'conv' FROM pr1
                         WHERE user_id NOT IN
                             (SELECT user_id FROM path))""",
        "cnts AS (SELECT f, t2, count(*) AS c FROM trans GROUP BY 1, 2)",
        "outs AS (SELECT f, sum(c) AS o FROM cnts GROUP BY 1)",
        """tbase AS MATERIALIZED (SELECT f, t2, c * 1.0 / o AS p
                     FROM cnts JOIN outs USING (f)
                     UNION ALL SELECT 'conv', 'conv', CAST(1 AS DOUBLE)
                     UNION ALL SELECT 'lost', 'lost', CAST(1 AS DOUBLE))""",
    ]
    for c in MK_CHANNELS:
        ctes.append(
            f"t_{c} AS MATERIALIZED (SELECT f, CASE WHEN t2 = '{c}' "
            f"THEN 'lost' "
            f"ELSE t2 END AS t2, sum(p) AS p FROM tbase "
            f"WHERE f <> '{c}' GROUP BY 1, 2)"
        )
    for tag, tname in [("b", "tbase")] + [
        (c, f"t_{c}") for c in MK_CHANNELS
    ]:
        ctes.append(
            f"v_{tag}_0 AS (SELECT 'start' AS state, "
            f"CAST(1 AS DOUBLE) AS p)"
        )
        for i in range(1, MK_ITERS + 1):
            ctes.append(
                f"v_{tag}_{i} AS MATERIALIZED (SELECT t.t2 AS state, "
                f"sum(v.p * t.p) AS p FROM {tname} t "
                f"JOIN v_{tag}_{i - 1} v ON v.state = t.f GROUP BY 1)"
            )
    effs = "\n UNION ALL ".join(
        f"SELECT '{c}' AS channel, "
        f"coalesce((SELECT p FROM v_b_{MK_ITERS} WHERE state = 'conv'), 0)"
        f" AS pb, "
        f"coalesce((SELECT p FROM v_{c}_{MK_ITERS} WHERE state = 'conv'),"
        f" 0) AS pr"
        for c in MK_CHANNELS
    )
    ctes.append(f"effs AS ({effs})")
    ctes.append(
        "fin AS (SELECT channel, pb, pr, (pb - pr) / pb AS eff FROM effs)"
    )
    return (
        "WITH "
        + ",\n ".join(ctes)
        + """
        SELECT channel, round(pb, 6) AS p_conv,
               round(pr, 6) AS p_conv_removed,
               round(eff, 6) AS removal_effect,
               round(eff / sum(eff) OVER (), 6) AS share
        FROM fin ORDER BY channel
    """
    )


def _shapley_attribution_sql() -> str:
    from deusu_spark.pipelines import MK_CHANNELS, SHAP_W

    n = len(MK_CHANNELS)
    full = (1 << n) - 1
    bits = " ".join(
        f"WHEN event_type = '{c}' THEN {1 << i}"
        for i, c in enumerate(MK_CHANNELS)
    )
    wcase = " ".join(
        f"WHEN bit_count(CAST(v1.S AS BIGINT)) = {s} THEN "
        f"CAST({SHAP_W[s]!r} AS DOUBLE)"
        for s in range(n)
    )
    chan_rows = "\n UNION ALL ".join(
        f"SELECT '{c}' AS channel, {1 << i} AS b"
        for i, c in enumerate(MK_CHANNELS)
    )
    return f"""
        WITH pr1 AS (SELECT user_id, ts AS pts, event_id AS pid FROM (
                 SELECT user_id, ts, event_id,
                        row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS prn
                 FROM events WHERE event_type = 'purchase') WHERE prn = 1),
             path AS (SELECT e.user_id,
                             CASE {bits} END AS bit
                      FROM events e JOIN pr1 p USING (user_id)
                      WHERE e.event_type <> 'purchase'
                        AND (e.ts, e.event_id) < (p.pts, p.pid)),
             masks AS (SELECT coalesce(m.mask, 0) AS mask FROM pr1
                       LEFT JOIN (SELECT user_id, bit_or(bit) AS mask
                                  FROM path GROUP BY 1) m USING (user_id)),
             mcnt AS (SELECT mask, count(*) AS c FROM masks GROUP BY 1),
             subsets AS (SELECT CAST(range AS INT) AS S
                         FROM range(0, {full + 1})),
             v AS (SELECT s.S,
                          coalesce(sum(m.c), 0) AS v
                   FROM subsets s LEFT JOIN mcnt m
                     ON (m.mask & s.S) = m.mask
                   GROUP BY 1),
             ch AS ({chan_rows}),
             shap AS (SELECT ch.channel,
                             sum(CASE WHEN (v1.S & ch.b) = 0 THEN
                                 (CASE {wcase} END)
                                 * (v2.v - v1.v) END) AS shapley
                      FROM ch
                      JOIN v v1 ON true
                      JOIN v v2 ON v2.S = (v1.S | ch.b)
                      GROUP BY 1),
             dn AS (SELECT (SELECT v FROM v WHERE S = {full})
                           - (SELECT v FROM v WHERE S = 0) AS denom)
        SELECT channel, round(shapley, 6) AS shapley,
               round(shapley / (SELECT denom FROM dn), 6) AS share
        FROM shap ORDER BY channel
    """


def _quantile_normalization_sql() -> str:
    return """
        WITH ranked AS (SELECT o_orderpriority AS grp, o_totalprice AS x,
                               row_number() OVER (PARTITION BY
                                   o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey) AS r
                        FROM orders),
             refd AS (SELECT r, avg(x) AS ref FROM ranked GROUP BY 1)
        SELECT grp, count(*) AS n,
               round(avg(x), 6) AS mean_raw,
               round(avg(ref), 6) AS mean_normalized,
               round(max(abs(x - ref)), 6) AS max_shift
        FROM ranked JOIN refd USING (r)
        GROUP BY 1 ORDER BY 1
    """


def _haar_wavelet_sql() -> str:
    from deusu_spark.pipelines import HAAR_LEVELS, HAAR_N

    ctes = [
        """daily AS (SELECT CAST(ts AS DATE) AS day,
                            CAST(count(*) AS DOUBLE) AS v
                     FROM events GROUP BY 1)""",
        """bounds AS (SELECT CAST(min(ts) AS DATE) AS lo,
                             CAST(max(ts) AS DATE) AS hi FROM events)""",
        """grid AS (SELECT CAST(unnest(generate_series(lo, hi,
                        INTERVAL 1 DAY)) AS DATE) AS day FROM bounds)""",
        f"""l0 AS (SELECT i, v FROM (
                SELECT row_number() OVER (ORDER BY g.day) AS i,
                       coalesce(d.v, 0.0) AS v
                FROM grid g LEFT JOIN daily d USING (day))
            WHERE i <= {HAAR_N})""",
    ]
    for k in range(1, HAAR_LEVELS + 1):
        ctes.append(
            f"""p{k} AS (SELECT CAST((i + 1) // 2 AS INT) AS i,
                    sum(CASE WHEN i % 2 = 1 THEN v END) AS v1,
                    sum(CASE WHEN i % 2 = 0 THEN v END) AS v2
                FROM l{k - 1} GROUP BY 1)"""
        )
        ctes.append(
            f"""l{k} AS (SELECT i, (v1 + v2) / 2.0 AS v,
                    (v1 - v2) / 2.0 AS d FROM p{k})"""
        )
    finals = "\n UNION ALL ".join(
        f"SELECT {k} AS level, i AS idx, v AS approx, d AS detail FROM l{k}"
        for k in range(1, HAAR_LEVELS + 1)
    )
    return "WITH " + ",\n ".join(ctes) + finals.join(["\n", "\nORDER BY level, idx"])


def _geo_hotspots_sql() -> str:
    from deusu_spark.pipelines import (
        HOT_CELL,
        HOT_LAT_CELLS,
        HOT_LON_CELLS,
        _hex15_to_long_sql,
    )

    lat = _hex15_to_long_sql("strpos", "h_lat")
    lon = _hex15_to_long_sql("strpos", "h_lon")
    return f"""
        WITH co AS (SELECT c_custkey,
                           ({lat}) % 180000 AS lat,
                           ({lon}) % 360000 AS lon
                    FROM (SELECT c_custkey,
                                 md5(CAST(c_custkey AS VARCHAR) || ':lat')
                                     AS h_lat,
                                 md5(CAST(c_custkey AS VARCHAR) || ':lon')
                                     AS h_lon
                          FROM customer)),
             cells AS (SELECT lat // {HOT_CELL} AS r,
                              lon // {HOT_CELL} AS c,
                              count(*) AS cnt
                       FROM co GROUP BY 1, 2),
             rows_ AS (SELECT range AS r FROM range(0, {HOT_LAT_CELLS})),
             cols_ AS (SELECT range AS c FROM range(0, {HOT_LON_CELLS})),
             full_ AS (SELECT rw.r, cl.c, coalesce(ce.cnt, 0) AS cnt
                       FROM rows_ rw CROSS JOIN cols_ cl
                       LEFT JOIN cells ce ON ce.r = rw.r AND ce.c = cl.c),
             offs AS (SELECT o1.range AS dr, o2.range AS dc
                      FROM range(-1, 2) o1, range(-1, 2) o2
                      WHERE NOT (o1.range = 0 AND o2.range = 0)),
             nb AS (SELECT f.r + o.dr AS r, f.c + o.dc AS c,
                           count(*) AS nn, sum(f.cnt) AS ns,
                           sum(f.cnt * f.cnt) AS ns2
                    FROM full_ f CROSS JOIN offs o
                    WHERE f.r + o.dr >= 0 AND f.r + o.dr < {HOT_LAT_CELLS}
                      AND f.c + o.dc >= 0 AND f.c + o.dc < {HOT_LON_CELLS}
                    GROUP BY 1, 2),
             j AS (SELECT f.r, f.c, f.cnt, nb.nn,
                          nb.ns * 1.0 / nb.nn AS mu,
                          nb.ns2 * 1.0 / nb.nn
                              - (nb.ns * 1.0 / nb.nn)
                                * (nb.ns * 1.0 / nb.nn) AS var
                   FROM full_ f JOIN nb ON nb.r = f.r AND nb.c = f.c)
        SELECT r, c, cnt, CAST(nn AS BIGINT) AS n_neighbors,
               round(mu, 6) AS neighbor_mean,
               round((cnt - mu) / sqrt(var), 4) AS z
        FROM j WHERE var > 0 ORDER BY r, c
    """


def _kruskal_wallis_sql() -> str:
    return """
        WITH j AS (SELECT c_mktsegment AS seg, o_totalprice AS x
                   FROM orders JOIN customer ON o_custkey = c_custkey),
             hist AS (SELECT x, count(*) AS cnt FROM j GROUP BY x),
             ranks AS (SELECT x, cnt,
                              sum(cnt) OVER (ORDER BY x) - cnt
                                  + (cnt + 1) / 2.0 AS r
                       FROM hist),
             per AS (SELECT seg, count(*) AS n, sum(r) AS rsum
                     FROM j JOIN ranks USING (x) GROUP BY seg),
             tot AS (SELECT sum(cnt) AS nn,
                            sum(cnt * cnt * cnt - cnt) AS ties
                     FROM hist),
             s AS (SELECT sum(rsum * rsum / n) AS s_rr FROM per)
        SELECT seg, n, round(rsum / n, 6) AS mean_rank,
               round(12.0 / (nn * (nn + 1.0)) * s_rr - 3.0 * (nn + 1.0), 6)
                   AS h_val,
               round((12.0 / (nn * (nn + 1.0)) * s_rr - 3.0 * (nn + 1.0))
                     / (1.0 - ties / (nn * nn * nn - nn)), 6) AS h_adj
        FROM per, tot, s ORDER BY seg
    """


def _wasserstein_drift_sql() -> str:
    from deusu_spark.pipelines import W1_BIN

    return f"""
        WITH j AS (SELECT c_mktsegment AS seg,
                          CAST(floor(o_totalprice / {W1_BIN}) AS BIGINT) AS b
                   FROM orders JOIN customer ON o_custkey = c_custkey),
             grid AS (SELECT DISTINCT b FROM j),
             segs AS (SELECT seg, count(*) AS n_seg FROM j GROUP BY seg),
             sb AS (SELECT seg, b, count(*) AS c_sb FROM j GROUP BY 1, 2),
             gb AS (SELECT b, count(*) AS c_b FROM j GROUP BY b),
             ntot AS (SELECT count(*) AS nt FROM j),
             full_ AS (SELECT seg, n_seg, b,
                              coalesce(c_sb, 0) AS c_sb, c_b
                       FROM segs CROSS JOIN grid
                       LEFT JOIN sb USING (seg, b)
                       JOIN gb USING (b)),
             cdf AS (SELECT seg, n_seg,
                            sum(c_sb) OVER (PARTITION BY seg ORDER BY b)
                                * 1.0 / n_seg AS f_seg,
                            sum(c_b) OVER (PARTITION BY seg ORDER BY b)
                                * 1.0 / (SELECT nt FROM ntot) AS f_all,
                            CAST(coalesce(
                                lead(b) OVER (PARTITION BY seg ORDER BY b)
                                    - b, 1) AS DOUBLE) AS gap
                     FROM full_)
        SELECT seg, n_seg AS n,
               round(sum(abs(f_seg - f_all) * gap) * {W1_BIN}, 4) AS w1
        FROM cdf GROUP BY seg, n_seg ORDER BY seg
    """


def _diff_in_diff_sql() -> str:
    return """
        WITH e AS (SELECT user_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS s,
                          value AS v
                   FROM events),
             mm AS (SELECT (min(s) + max(s)) / 2.0 AS cut FROM e),
             cells AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END
                                  AS treated,
                              CASE WHEN s >= (SELECT cut FROM mm)
                                   THEN 1 ELSE 0 END AS post,
                              count(*) AS n, avg(v) AS m, var_samp(v) AS s2
                       FROM e GROUP BY 1, 2),
             agg AS (SELECT
                 sum(CASE WHEN treated = 1 AND post = 0 THEN m END) AS t_pre,
                 sum(CASE WHEN treated = 1 AND post = 1 THEN m END) AS t_post,
                 sum(CASE WHEN treated = 0 AND post = 0 THEN m END) AS c_pre,
                 sum(CASE WHEN treated = 0 AND post = 1 THEN m END) AS c_post,
                 sum(s2 / n) AS vsum,
                 sum(n) AS n_total FROM cells)
        SELECT CAST(n_total AS BIGINT) AS n_total,
               round(t_pre, 6) AS mean_t_pre,
               round(t_post, 6) AS mean_t_post,
               round(c_pre, 6) AS mean_c_pre,
               round(c_post, 6) AS mean_c_post,
               round((t_post - t_pre) - (c_post - c_pre), 6) AS did,
               round(sqrt(vsum), 6) AS se
        FROM agg
    """


def _js_divergence_sql() -> str:
    return f"""
        WITH tok AS ({_TOKS}),
             st AS (SELECT source, t, count(*) AS c_st
                    FROM tok JOIN documents USING (doc_id) GROUP BY 1, 2),
             gt AS (SELECT t, sum(c_st) AS c_t FROM st GROUP BY t),
             ts_ AS (SELECT source, sum(c_st) AS t_s FROM st GROUP BY 1),
             ttot AS (SELECT sum(c_t) AS tt FROM gt),
             rows_ AS (SELECT source, t_s,
                              c_st * 1.0 / t_s AS p,
                              (c_t - c_st) * 1.0
                                  / ((SELECT tt FROM ttot) - t_s) AS q
                       FROM st JOIN gt USING (t) JOIN ts_ USING (source)),
             agg AS (SELECT source, t_s, count(*) AS vocab,
                            sum(0.5 * (p * ln(2.0 * p / (p + q))
                                + CASE WHEN q > 0
                                       THEN q * ln(2.0 * q / (p + q))
                                       ELSE 0.0 END)) AS obs,
                            sum(q) AS qcov
                     FROM rows_ GROUP BY 1, 2)
        SELECT source, CAST(t_s AS BIGINT) AS n_tokens, vocab,
               round(obs + 0.5 * ln(2.0) * (1.0 - qcov), 6) AS jsd
        FROM agg ORDER BY source
    """


def _levene_test_sql() -> str:
    return """
        WITH j AS (SELECT c_mktsegment AS seg, o_totalprice AS x
                   FROM orders JOIN customer ON o_custkey = c_custkey),
             med AS (SELECT seg, quantile_cont(x, 0.5) AS med
                     FROM j GROUP BY seg),
             z AS (SELECT seg, med, abs(x - med) AS z
                   FROM j JOIN med USING (seg)),
             g AS (SELECT seg, med, count(*) AS n, avg(z) AS mz,
                          var_pop(z) * count(*) AS ssw
                   FROM z GROUP BY 1, 2),
             tot AS (SELECT sum(n) AS nn, count(*) AS k,
                            sum(n * mz) / sum(n) AS gz,
                            sum(ssw) AS ssw_all
                     FROM g),
             fs AS (SELECT round((sum(n * (mz - gz) * (mz - gz)) / (k - 1))
                                 / (ssw_all / (nn - k)), 6) AS f_bf,
                           CAST(k - 1 AS BIGINT) AS df1,
                           CAST(nn - k AS BIGINT) AS df2
                    FROM g, tot GROUP BY k, nn, ssw_all, gz)
        SELECT seg, n, round(med, 6) AS median,
               round(mz, 6) AS mean_absdev, f_bf, df1, df2
        FROM g, fs ORDER BY seg
    """


def _hill_tail_index_sql() -> str:
    from deusu_spark.pipelines import HILL_K

    return f"""
        WITH top AS (SELECT o_totalprice AS x FROM orders
                     ORDER BY o_totalprice DESC, o_orderkey
                     LIMIT {HILL_K}),
             a AS (SELECT count(*) AS k, min(x) AS mn,
                          sum(ln(x)) AS sln FROM top)
        SELECT k, round(mn, 6) AS threshold,
               round(sln / k - ln(mn), 6) AS gamma_hat,
               round(1.0 / (sln / k - ln(mn)), 6) AS alpha_hat
        FROM a
    """


_CCF_DAILY = """SELECT CAST(ts AS DATE) AS day,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchases
       FROM events GROUP BY 1"""


def _chatterjee_xi_sql() -> str:
    def side(direction: str, xc: str, yc: str) -> str:
        return f"""
            SELECT '{direction}' AS direction,
                   CAST(any_value(n) AS BIGINT) AS n_days,
                   round(1.0 - any_value(n) * sum(dr)
                         / (2.0 * sum(l * (n - l))), 6) AS xi
            FROM (SELECT n, l,
                         abs(lead(r) OVER (ORDER BY x, day) - r) AS dr
                  FROM (SELECT day, {xc} * 1.0 AS x, {yc} * 1.0 AS y,
                               cume_dist() OVER (ORDER BY {yc})
                                   * count(*) OVER () AS r,
                               cume_dist() OVER (ORDER BY {yc} DESC)
                                   * count(*) OVER () AS l,
                               count(*) OVER () AS n
                        FROM daily))
        """

    return f"""
        WITH daily AS ({_CCF_DAILY})
        SELECT * FROM ({side("click_to_purchase", "clicks", "purchases")}
        UNION ALL {side("purchase_to_click", "purchases", "clicks")})
        ORDER BY direction
    """


def _ccf_leadlag_sql() -> str:
    from deusu_spark.pipelines import CCF_MAX_LAG

    return f"""
        WITH daily AS ({_CCF_DAILY}),
             idx AS (SELECT row_number() OVER (ORDER BY day) AS i,
                            clicks * 1.0 AS x, purchases * 1.0 AS y
                     FROM daily),
             lags AS (SELECT CAST(unnest(range(-{CCF_MAX_LAG},
                                               {CCF_MAX_LAG} + 1))
                                  AS INTEGER) AS lag)
        SELECT lag, count(*) AS n_pairs, round(corr(a.x, b.y), 6) AS ccf
        FROM idx a CROSS JOIN lags JOIN idx b ON b.i = a.i + lag
        GROUP BY lag ORDER BY lag
    """


def _isotonic_calibration_sql() -> str:
    from deusu_spark.pipelines import CALIB_BINS

    return f"""
        WITH {_ft_p_ctes()},
             l AS (SELECT s.doc_id, p,
                          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                   FROM s JOIN documents d ON s.doc_id = d.doc_id),
             bins AS (SELECT least(CAST(floor(p * {CALIB_BINS}) AS INTEGER),
                                   {CALIB_BINS - 1}) AS bin,
                             count(*) AS n, sum(y) AS ysum, avg(p) AS mean_p
                      FROM l GROUP BY 1),
             pref AS (SELECT bin, n, ysum, mean_p,
                             sum(n) OVER (ORDER BY bin) AS cn,
                             sum(ysum) OVER (ORDER BY bin) AS cy
                      FROM bins),
             lo AS (SELECT bin AS a, cn - n AS cn0, cy - ysum AS cy0
                    FROM pref),
             hi AS (SELECT bin AS b, cn AS cn1, cy AS cy1 FROM pref),
             grid AS (SELECT a, b,
                             (cy1 - cy0) * 1.0 / (cn1 - cn0) AS wavg
                      FROM lo, hi WHERE a <= b),
             iso AS (SELECT j, max(inner_min) AS iso_p FROM (
                        SELECT p2.bin AS j, g.a, min(g.wavg) AS inner_min
                        FROM grid g, bins p2
                        WHERE g.a <= p2.bin AND p2.bin <= g.b
                        GROUP BY 1, 2)
                     GROUP BY j)
        SELECT bin, n, round(mean_p, 6) AS mean_p,
               round(ysum * 1.0 / n, 6) AS obs_rate,
               round(iso_p, 6) AS iso_p
        FROM bins JOIN iso ON bin = j ORDER BY bin
    """


def _stratified_ate_sql() -> str:
    return """
        WITH cells AS (SELECT event_type AS stratum,
                              CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END
                                  AS treated,
                              count(*) AS n, avg(value) AS m,
                              var_samp(value) AS s2
                       FROM events GROUP BY 1, 2),
             s AS (SELECT stratum,
                          sum(CASE WHEN treated = 1 THEN n END) AS n_treat,
                          sum(CASE WHEN treated = 0 THEN n END) AS n_ctrl,
                          sum(CASE WHEN treated = 1 THEN m END) AS m1,
                          sum(CASE WHEN treated = 0 THEN m END) AS m0,
                          sum(s2 / n) AS var_s
                   FROM cells GROUP BY stratum),
             per AS (SELECT stratum, n_treat, n_ctrl, m1, m0,
                            m1 - m0 AS diff, n_treat + n_ctrl AS n_s, var_s
                     FROM s),
             tot AS (SELECT round(sum(n_s * diff) / sum(n_s), 6) AS ate,
                            round(sqrt(sum(n_s * n_s * var_s)
                                       / (sum(n_s) * sum(n_s))), 6)
                                AS ate_se
                     FROM per)
        SELECT stratum, CAST(n_treat AS BIGINT) AS n_treat,
               CAST(n_ctrl AS BIGINT) AS n_ctrl,
               round(m1, 6) AS mean_treat, round(m0, 6) AS mean_ctrl,
               round(diff, 6) AS diff, ate, ate_se
        FROM per, tot ORDER BY stratum
    """


def _regression_diagnostics_sql() -> str:
    return """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                              CAST(count(*) AS DOUBLE) AS y
                       FROM events GROUP BY 1),
             idx AS (SELECT day,
                            CAST(row_number() OVER (ORDER BY day) AS DOUBLE)
                                AS x,
                            y
                     FROM daily),
             st AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
                           covar_pop(x, y) / var_pop(x) AS slope,
                           var_pop(x) * count(*) AS sxx
                    FROM idx),
             rows_ AS (SELECT day, x, y, n, mx, sxx,
                              (my - slope * mx) + slope * x AS fitted,
                              y - (my - slope * mx) - slope * x AS e
                       FROM idx, st),
             s2 AS (SELECT sum(e * e) / (max(n) - 2) AS s2 FROM rows_),
             d2 AS (SELECT day, x, y, fitted, e, s2,
                           1.0 / n + (x - mx) * (x - mx) / sxx AS h
                    FROM rows_, s2)
        SELECT day, CAST(x AS BIGINT) AS i, CAST(y AS BIGINT) AS cnt,
               round(fitted, 6) AS fitted,
               round(h, 6) AS leverage,
               round(e / sqrt(s2 * (1.0 - h)), 6) AS stud_resid,
               round((e / sqrt(s2 * (1.0 - h)))
                     * (e / sqrt(s2 * (1.0 - h)))
                     * h / (2.0 * (1.0 - h)), 6) AS cooks_d
        FROM d2 ORDER BY day
    """


def _page_hinkley_sql() -> str:
    from deusu_spark.pipelines import PH_DELTA, PH_LAMBDA

    return f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, avg(value) AS x
                       FROM events GROUP BY 1),
             m AS (SELECT day, x,
                          avg(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                       PRECEDING AND CURRENT ROW) AS m
                   FROM daily),
             cum AS (SELECT day, x,
                            sum(x - m - {PH_DELTA}) OVER (ORDER BY day ROWS
                                BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                                AS cum
                     FROM m),
             ph AS (SELECT day, x,
                           cum - min(cum) OVER (ORDER BY day ROWS BETWEEN
                               UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
                    FROM cum)
        SELECT day, round(x, 6) AS daily_mean, round(ph, 6) AS ph,
               CASE WHEN ph > {PH_LAMBDA} THEN 1 ELSE 0 END AS alarm
        FROM ph ORDER BY day
    """


def _flesch_readability_sql() -> str:
    return r"""
        WITH rows_ AS (SELECT lang,
                 len(list_filter(regexp_split_to_array(lower(text),
                                                       '[^a-z0-9]+'),
                                 x -> x <> '')) AS w,
                 greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
                 greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                          1) AS y
               FROM documents),
             f AS (SELECT lang, w, s, y,
                          206.835
                          - 1.015 * greatest(w, 1) * 1.0 / s
                          - 84.6 * y * 1.0 / greatest(w, 1) AS fre
                   FROM rows_)
        SELECT lang, count(*) AS n_docs,
               round(avg(w), 6) AS avg_words,
               round(avg(s), 6) AS avg_sentences,
               round(avg(y * 1.0 / greatest(w, 1)), 6) AS avg_syll_per_word,
               round(avg(fre), 6) AS avg_fre,
               round(avg(CASE WHEN fre < 30 THEN 1 ELSE 0 END), 6)
                   AS frac_hard
        FROM f GROUP BY lang ORDER BY lang
    """


def _burrows_delta_sql() -> str:
    from deusu_spark.pipelines import BURROWS_TOPM

    return f"""
        WITH tok AS ({_TOKS}),
             st AS (SELECT source, t, count(*) AS c_st
                    FROM tok JOIN documents USING (doc_id) GROUP BY 1, 2),
             totals AS (SELECT source, sum(c_st) AS t_s FROM st GROUP BY 1),
             top AS (SELECT t FROM (SELECT t, sum(c_st) AS c FROM st
                                    GROUP BY t
                                    ORDER BY c DESC, t
                                    LIMIT {BURROWS_TOPM})),
             grid AS (SELECT totals.source, top.t,
                             coalesce(st.c_st, 0) * 1.0 / totals.t_s AS f
                      FROM totals CROSS JOIN top
                      LEFT JOIN st ON st.source = totals.source
                                  AND st.t = top.t),
             mus AS (SELECT t, avg(f) AS mu, stddev_pop(f) AS sd
                     FROM grid GROUP BY t),
             z AS (SELECT source, t, (f - mu) / sd AS z
                   FROM grid JOIN mus USING (t) WHERE sd > 0)
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_markers,
               round(avg(abs(a.z - b.z)), 6) AS delta
        FROM z a JOIN z b ON a.t = b.t AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2
    """


def _rbo_rankings_sql() -> str:
    from deusu_spark.pipelines import RBO_K, RBO_P

    return f"""
        WITH spend AS (SELECT o_custkey,
                              row_number() OVER (ORDER BY v DESC, o_custkey)
                                  AS ra
                       FROM (SELECT o_custkey, sum(o_totalprice) AS v
                             FROM orders GROUP BY 1
                             ORDER BY v DESC, o_custkey LIMIT {RBO_K})),
             freq AS (SELECT o_custkey,
                             row_number() OVER (ORDER BY v DESC, o_custkey)
                                 AS rb
                      FROM (SELECT o_custkey, count(*) AS v
                            FROM orders GROUP BY 1
                            ORDER BY v DESC, o_custkey LIMIT {RBO_K})),
             joint AS (SELECT greatest(ra, rb) AS m
                       FROM spend JOIN freq USING (o_custkey)),
             depths AS (SELECT CAST(unnest(range(1, {RBO_K} + 1))
                                    AS INTEGER) AS d),
             xd AS (SELECT d,
                           sum(CASE WHEN m <= d THEN 1 ELSE 0 END) AS x
                    FROM depths CROSS JOIN joint GROUP BY d)
        SELECT {RBO_K} AS k,
               CAST(max(CASE WHEN d = {RBO_K} THEN x END) AS BIGINT)
                   AS n_common,
               round(max(CASE WHEN d = {RBO_K} THEN x END)
                     / CAST({RBO_K} AS DOUBLE), 6) AS overlap_at_k,
               round({1.0 - RBO_P} * sum(pow({RBO_P}, d - 1) * x / d), 6)
                   AS rbo
        FROM xd
    """


def _hurst_exponent_sql() -> str:
    from deusu_spark.pipelines import HURST_WINDOWS

    parts = []
    for w in HURST_WINDOWS:
        parts.append(f"""
            SELECT {w} AS w, count(*) AS n_blocks, avg(r / sd) AS rs_avg
            FROM (SELECT blk, sd, max(cum) - min(cum) AS r
                  FROM (SELECT s.blk, s.i, b.sd,
                               sum(s.x - b.mx) OVER (PARTITION BY s.blk
                                   ORDER BY s.i ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW) AS cum
                        FROM (SELECT i, x,
                                     CAST(floor((i - 1) / {w}) AS BIGINT)
                                         AS blk
                              FROM idx) s
                        JOIN (SELECT CAST(floor((i - 1) / {w}) AS BIGINT)
                                         AS blk,
                                     count(*) AS n, avg(x) AS mx,
                                     stddev_pop(x) AS sd
                              FROM idx GROUP BY 1) b
                          ON s.blk = b.blk AND b.n = {w})
                  GROUP BY blk, sd)
            WHERE sd > 0
        """)
    union = " UNION ALL ".join(parts)
    return f"""
        WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
                               CAST(count(*) AS DOUBLE) AS x
                        FROM events GROUP BY 1),
             idx AS (SELECT row_number() OVER (ORDER BY h) AS i, x
                     FROM hourly),
             u AS ({union}),
             st AS (SELECT covar_pop(ln(w), ln(rs_avg)) / var_pop(ln(w))
                        AS hurst
                    FROM u)
        SELECT w, CAST(n_blocks AS BIGINT) AS n_blocks,
               round(rs_avg, 6) AS rs_avg, round(hurst, 6) AS hurst
        FROM u, st ORDER BY w
    """


def _em_gmm_sql() -> str:
    from deusu_spark.pipelines import _SQRT_2PI, EM_ROUNDS

    def pdf(mu: str, sd: str) -> str:
        return (
            f"exp(-(x - {mu}) * (x - {mu}) / (2.0 * {sd} * {sd}))"
            f" / ({sd} * {_SQRT_2PI})"
        )

    from deusu_spark.pipelines import _EM_EPS

    eps = repr(_EM_EPS)
    ctes = [
        "xs AS MATERIALIZED (SELECT ln(o_totalprice) AS x FROM orders)",
        """base AS (SELECT count(*) * 1.0 AS n, avg(x) AS m,
                           stddev_pop(x) AS s, sum(x) AS sx,
                           sum(x * x) AS sxx
                    FROM xs)""",
        """p0 AS (SELECT n, sx, sxx, FALSE AS frozen, 0.5 AS w1, 0.5 AS w2,
                         m - s AS mu1, m + s AS mu2, s AS sd1, s AS sd2
                  FROM base)""",
    ]
    p1, p2 = pdf("mu1", "sd1"), pdf("mu2", "sd2")
    for i in range(1, EM_ROUNDS + 1):
        # carry the previous round's params through the stat aggregate so
        # a degenerate round (one component absorbing ~all responsibility)
        # FREEZES them — the exact mirror of the engine's break-on-collapse
        # guard (pipelines.q_em_gmm), incl. the variance floor; once frozen
        # a round stays frozen (the engine exits its loop)
        ctes.append(f"""st{i} AS MATERIALIZED (
            SELECT any_value(n) AS n, any_value(sx) AS sx,
                   any_value(sxx) AS sxx, any_value(frozen) AS frozen,
                   any_value(w1) AS w1p, any_value(w2) AS w2p,
                   any_value(mu1) AS mu1p, any_value(mu2) AS mu2p,
                   any_value(sd1) AS sd1p, any_value(sd2) AS sd2p,
                   sum(r) AS s0, sum(r * x) AS s1, sum(r * x * x) AS s2
            FROM (SELECT x, n, sx, sxx, frozen, w1, w2, mu1, mu2, sd1, sd2,
                         (w2 * {p2}) / (w1 * {p1} + w2 * {p2}) AS r
                  FROM xs, p{i - 1}))""")
        mu1new = "(sx - s1) / d1"
        ctes.append(f"""p{i} AS (SELECT n, sx, sxx, frz AS frozen,
                CASE WHEN frz THEN w1p ELSE 1.0 - s0 / n END AS w1,
                CASE WHEN frz THEN w2p ELSE s0 / n END AS w2,
                CASE WHEN frz THEN mu1p ELSE {mu1new} END AS mu1,
                CASE WHEN frz THEN mu2p ELSE s1 / d2 END AS mu2,
                CASE WHEN frz THEN sd1p ELSE sqrt(greatest(
                    (sxx - s2) / d1 - {mu1new} * {mu1new}, {eps})) END AS sd1,
                CASE WHEN frz THEN sd2p ELSE sqrt(greatest(
                    s2 / d2 - (s1 / d2) * (s1 / d2), {eps})) END AS sd2
                FROM (SELECT *,
                        (frozen OR s0 <= {eps} OR n - s0 <= {eps}) AS frz,
                        CASE WHEN frozen OR s0 <= {eps} OR n - s0 <= {eps}
                             THEN 1.0 ELSE n - s0 END AS d1,
                        CASE WHEN frozen OR s0 <= {eps} OR n - s0 <= {eps}
                             THEN 1.0 ELSE s0 END AS d2
                      FROM st{i}))""")
    last = f"p{EM_ROUNDS}"
    ctes.append(
        f"ll AS (SELECT sum(ln(w1 * {p1} + w2 * {p2})) AS ll "
        f"FROM xs, {last})"
    )
    chain = ",\n ".join(ctes)
    return f"""
        WITH {chain}
        SELECT 1 AS comp, CAST(p.n AS BIGINT) AS n,
               round(p.w1, 6) AS weight, round(p.mu1, 6) AS mu,
               round(p.sd1, 6) AS sigma, round(l.ll, 6) AS loglik
        FROM {last} p, ll l
        UNION ALL
        SELECT 2, CAST(p.n AS BIGINT), round(p.w2, 6), round(p.mu2, 6),
               round(p.sd2, 6), round(l.ll, 6)
        FROM {last} p, ll l
        ORDER BY comp
    """


def _granger_causality_sql() -> str:
    def side(direction: str, y: str, z1: str, z2: str) -> str:
        return f"""
            SELECT '{direction}' AS direction, CAST(n AS BIGINT) AS n_days,
                   round(sse_r, 6) AS sse_restricted,
                   round(sse_u, 6) AS sse_unrestricted,
                   round((sse_r - sse_u) / (sse_u / (n - 3)), 6) AS f_stat
            FROM (SELECT n, syy * n - b * s1y * n - cc * s2y * n AS sse_u,
                         (syy - s1y * s1y / s11) * n AS sse_r
                  FROM (SELECT n, s11, s12, s1y, s2y, syy,
                               (s1y * s22 - s2y * s12)
                                   / (s11 * s22 - s12 * s12) AS b,
                               (s2y * s11 - s1y * s12)
                                   / (s11 * s22 - s12 * s12) AS cc
                        FROM (SELECT count(*) AS n,
                                     covar_pop({z1}, {z1}) AS s11,
                                     covar_pop({z2}, {z2}) AS s22,
                                     covar_pop({z1}, {z2}) AS s12,
                                     covar_pop({z1}, {y}) AS s1y,
                                     covar_pop({z2}, {y}) AS s2y,
                                     var_pop({y}) AS syy
                              FROM lg)))
        """

    return f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      AS DOUBLE) AS c,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS DOUBLE) AS p
               FROM events GROUP BY 1),
             lagged AS (SELECT day, c, p,
                               lag(c) OVER (ORDER BY day) AS cl,
                               lag(p) OVER (ORDER BY day) AS pl
                        FROM daily),
             lg AS (SELECT * FROM lagged WHERE cl IS NOT NULL)
        SELECT * FROM ({side("click_to_purchase", "p", "pl", "cl")}
        UNION ALL {side("purchase_to_click", "c", "cl", "pl")})
        ORDER BY direction
    """


def _weibull_fit_sql() -> str:
    import math as _m

    from deusu_spark.pipelines import _EULER_GAMMA

    pi, sq6, ln2 = _m.pi, _m.sqrt(6.0), _m.log(2.0)
    k = f"{pi} / (slx * {sq6})"
    return f"""
        WITH gaps AS (SELECT ln(gap * 1.0) AS lx FROM (
                 SELECT CAST(floor(epoch(ts)) AS BIGINT)
                        - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                              PARTITION BY user_id ORDER BY ts, event_id)
                            AS gap
                 FROM events) WHERE gap > 0),
             st AS (SELECT count(*) AS n, avg(lx) AS mlx,
                           stddev_pop(lx) AS slx
                    FROM gaps)
        SELECT n, round(mlx, 6) AS mean_ln_gap, round(slx, 6) AS sd_ln_gap,
               round({k}, 6) AS k_shape,
               round(exp(mlx + {_EULER_GAMMA} / ({k})), 6) AS lambda_scale,
               round(exp(mlx + {_EULER_GAMMA} / ({k}))
                     * pow({ln2}, 1.0 / ({k})), 6) AS fitted_median
        FROM st
    """


def _bayesian_ab_sql() -> str:
    return """
        WITH users AS (SELECT user_id,
                              max(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) AS conv
                       FROM events GROUP BY 1),
             arms AS (SELECT CAST(user_id % 2 AS INTEGER) AS arm,
                             count(*) AS n, sum(conv) AS k
                      FROM users GROUP BY 1),
             pm AS (SELECT arm, n, k, k + 1.0 AS alpha, n - k + 1.0 AS beta,
                           (k + 1.0) / (n + 2.0) AS pm,
                           (k + 1.0) * (n - k + 1.0)
                               / ((n + 2.0) * (n + 2.0) * (n + 3.0)) AS pv
                    FROM arms),
             cmp_ AS (SELECT round(max(CASE WHEN arm = 1 THEN pm END)
                                   - max(CASE WHEN arm = 0 THEN pm END), 6)
                                 AS diff_mean,
                             round(sqrt(sum(pv)), 6) AS diff_sd,
                             round((max(CASE WHEN arm = 1 THEN pm END)
                                    - max(CASE WHEN arm = 0 THEN pm END))
                                   / sqrt(sum(pv)), 6) AS z
                      FROM pm)
        SELECT arm, n, CAST(k AS BIGINT) AS k,
               round(pm, 6) AS post_mean, round(sqrt(pv), 6) AS post_sd,
               diff_mean, diff_sd, z
        FROM pm, cmp_ ORDER BY arm
    """


def _eb_shrinkage_sql() -> str:
    from deusu_spark.pipelines import EB_MIN_EVENTS, EB_SHOW_USERS

    return f"""
        WITH users AS (SELECT user_id, count(*) AS n,
                              sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) AS k
                       FROM events GROUP BY 1
                       HAVING count(*) >= {EB_MIN_EVENTS}),
             st AS (SELECT count(*) AS nu, avg(k * 1.0 / n) AS m,
                           var_samp(k * 1.0 / n) AS v
                    FROM users),
             pr AS (SELECT nu, m, m * (1.0 - m) / v - 1.0 AS ab FROM st)
        SELECT user_id, n, CAST(k AS BIGINT) AS k,
               round(k * 1.0 / n, 6) AS raw_rate,
               round((k + m * ab) / (n + ab), 6) AS shrunk_rate,
               round(m * ab, 6) AS prior_alpha,
               round((1.0 - m) * ab, 6) AS prior_beta,
               CAST(nu AS BIGINT) AS nu
        FROM users, pr WHERE user_id < {EB_SHOW_USERS} ORDER BY user_id
    """


def _gumbel_maxima_sql() -> str:
    import math as _m

    from deusu_spark.pipelines import _EULER_GAMMA, GUMBEL_RET_T

    beta = f"(s * {_m.sqrt(6.0)} / {_m.pi})"
    mu = f"(m - {_EULER_GAMMA} * {beta})"
    lnl = _m.log(-_m.log(1.0 - 1.0 / GUMBEL_RET_T))
    return f"""
        WITH hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS c
                        FROM events GROUP BY 1),
             dmax AS (SELECT CAST(h AS DATE) AS day,
                             CAST(max(c) AS DOUBLE) AS mx
                      FROM hourly GROUP BY 1),
             st AS (SELECT count(*) AS n_blocks, avg(mx) AS m,
                           stddev_pop(mx) AS s
                    FROM dmax)
        SELECT n_blocks, round(m, 6) AS mean_max, round(s, 6) AS sd_max,
               round({mu}, 6) AS mu_loc, round({beta}, 6) AS beta_scale,
               round({mu} - {beta} * {lnl}, 6) AS ret_{GUMBEL_RET_T}d
        FROM st
    """


def _qte_sql() -> str:
    from deusu_spark.pipelines import QTE_B

    est = (
        f"lo + (bin + (p * n - (cum - cnt)) / cnt) "
        f"* ((hi - lo) / {float(QTE_B)})"
    )
    return f"""
        WITH rows_ AS (SELECT CAST(user_id % 2 AS INTEGER) AS arm,
                              value AS v
                       FROM events),
             st AS (SELECT min(v) AS lo, max(v) AS hi FROM rows_),
             b AS (SELECT arm,
                          least({QTE_B - 1},
                                CAST(floor((v - lo) / (hi - lo) * {QTE_B})
                                     AS INTEGER)) AS bin,
                          lo, hi
                   FROM rows_, st),
             hist AS (SELECT arm, bin, lo, hi, count(*) AS cnt
                      FROM b GROUP BY 1, 2, 3, 4),
             h2 AS (SELECT arm, bin, cnt, lo, hi,
                           sum(cnt) OVER (PARTITION BY arm ORDER BY bin)
                               AS cum,
                           sum(cnt) OVER (PARTITION BY arm) AS n
                    FROM hist),
             ps AS (SELECT unnest(range(1, 10)) / 10.0 AS p),
             q AS (SELECT arm, p,
                          max(CASE WHEN cum >= p * n
                                    AND (cum - cnt) < p * n
                                   THEN {est} END) AS q
                   FROM h2, ps GROUP BY 1, 2)
        SELECT p,
               round(sum(CASE WHEN arm = 0 THEN q END), 6) AS q_control,
               round(sum(CASE WHEN arm = 1 THEN q END), 6) AS q_treated,
               round(sum(CASE WHEN arm = 1 THEN q END)
                     - sum(CASE WHEN arm = 0 THEN q END), 6) AS qte
        FROM q GROUP BY p ORDER BY p
    """


def _pettitt_test_sql() -> str:
    return """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, avg(value) AS x
                       FROM events GROUP BY 1),
             ranked AS (SELECT day, x,
                               (cume_dist() OVER (ORDER BY x)
                                    * count(*) OVER ()
                                + count(*) OVER ()
                                - cume_dist() OVER (ORDER BY x DESC)
                                    * count(*) OVER ()
                                + 1) / 2.0 AS r,
                               count(*) OVER () AS n
                        FROM daily),
             u AS (SELECT day, n,
                          2.0 * sum(r) OVER (ORDER BY day ROWS BETWEEN
                              UNBOUNDED PRECEDING AND CURRENT ROW)
                          - row_number() OVER (ORDER BY day) * (n + 1.0)
                              AS u,
                          row_number() OVER (ORDER BY day) AS t
                   FROM ranked),
             uf AS (SELECT * FROM u WHERE t < n),
             u2 AS (SELECT day, n, u, max(abs(u)) OVER () AS k FROM uf)
        SELECT CAST(max(n) AS BIGINT) AS n_days,
               round(max(k), 6) AS k_stat,
               min(CASE WHEN abs(u) = k THEN day END) AS cp_day,
               round(2.0 * exp(-6.0 * max(k) * max(k)
                               / (max(n) * max(n) * max(n)
                                  + max(n) * max(n))), 6) AS p_approx
        FROM u2
    """


def _t_closeness_sql() -> str:
    from deusu_spark.pipelines import KANON_BAND, TCLOSE_T

    return f"""
        WITH j AS (SELECT c_nationkey AS nationkey,
                          c_mktsegment AS mktsegment,
                          CAST(floor(c_acctbal / {KANON_BAND}) AS BIGINT)
                              AS bal_band,
                          o_orderpriority AS v
                   FROM customer JOIN orders ON c_custkey = o_custkey),
             cv AS (SELECT nationkey, mktsegment, bal_band, v,
                           count(*) AS c_cv
                    FROM j GROUP BY 1, 2, 3, 4),
             cls AS (SELECT nationkey, mktsegment, bal_band,
                            sum(c_cv) AS n_cls
                     FROM cv GROUP BY 1, 2, 3),
             ntot AS (SELECT count(*) AS nt FROM j),
             gv AS (SELECT v, count(*) * 1.0 / (SELECT nt FROM ntot) AS p_g
                    FROM j GROUP BY v),
             grid AS (SELECT cls.nationkey, cls.mktsegment, cls.bal_band,
                             cls.n_cls, gv.p_g,
                             coalesce(cv.c_cv, 0) * 1.0 / cls.n_cls AS p_c
                      FROM cls CROSS JOIN gv
                      LEFT JOIN cv ON cv.nationkey = cls.nationkey
                                  AND cv.mktsegment = cls.mktsegment
                                  AND cv.bal_band = cls.bal_band
                                  AND cv.v = gv.v),
             agg AS (SELECT nationkey, mktsegment, bal_band,
                            CAST(n_cls AS BIGINT) AS n_orders,
                            round(0.5 * sum(abs(p_c - p_g)), 6) AS tvd
                     FROM grid GROUP BY 1, 2, 3, n_cls)
        SELECT nationkey, mktsegment, bal_band, n_orders, tvd,
               CASE WHEN tvd <= {TCLOSE_T} THEN 1 ELSE 0 END AS t_close
        FROM agg ORDER BY 1, 2, 3
    """


def _entropy_rate_sql() -> str:
    return """
        WITH tr AS (SELECT s, t, count(*) AS c FROM (
                 SELECT event_type AS s,
                        lead(event_type) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS t
                 FROM events)
             WHERE t IS NOT NULL GROUP BY 1, 2),
             outs AS (SELECT s, sum(c) AS o FROM tr GROUP BY s),
             ntr AS (SELECT sum(c) AS nt FROM tr),
             hs AS (SELECT s, o,
                           sum(-(c * 1.0 / o) * ln(c * 1.0 / o)) AS h_s
                    FROM tr JOIN outs USING (s) GROUP BY s, o),
             rate AS (SELECT round(sum((o * 1.0 / (SELECT nt FROM ntr))
                                       * h_s), 6) AS h_rate
                      FROM hs)
        SELECT s, CAST(o AS BIGINT) AS n_out,
               round(o * 1.0 / (SELECT nt FROM ntr), 6) AS pi,
               round(h_s, 6) AS h_state, h_rate
        FROM hs, rate ORDER BY s
    """


def _rich_club_sql() -> str:
    from deusu_spark.pipelines import KCORE_MINW, RICH_KS

    klist = ", ".join(str(k) for k in RICH_KS)
    return f"""
        WITH {_COPURCHASE_EDGES.format(minw=KCORE_MINW)},
             deg AS (SELECT s, count(*) AS dg FROM edges GROUP BY s),
             node_hist AS (SELECT dg, count(*) AS nn FROM deg GROUP BY dg),
             e2 AS (SELECT least(a.dg, b.dg) AS mindeg
                    FROM edges e JOIN deg a ON e.s = a.s
                                 JOIN deg b ON e.d = b.s),
             edge_hist AS (SELECT mindeg, count(*) AS ne
                           FROM e2 GROUP BY mindeg),
             ks AS (SELECT CAST(unnest([{klist}]) AS INTEGER) AS k),
             nodes_k AS (SELECT k, sum(nn) AS n_nodes
                         FROM ks JOIN node_hist ON dg > k GROUP BY k),
             edges_k AS (SELECT k, sum(ne) AS n_edges
                         FROM ks JOIN edge_hist ON mindeg > k GROUP BY k),
             filled AS (SELECT ks.k,
                               CAST(coalesce(n_nodes, 0) AS BIGINT)
                                   AS n_nodes,
                               CAST(coalesce(n_edges, 0) AS BIGINT)
                                   AS n_edges
                        FROM ks LEFT JOIN nodes_k USING (k)
                                LEFT JOIN edges_k USING (k))
        SELECT k, n_nodes, n_edges,
               round(CASE WHEN n_nodes >= 2
                          THEN n_edges / (n_nodes * (n_nodes - 1.0))
                     END, 6) AS phi
        FROM filled ORDER BY k
    """


def _conformal_interval_sql() -> str:
    from deusu_spark.pipelines import CONF_ALPHA

    return f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                              CAST(count(*) AS DOUBLE) AS y
                       FROM events GROUP BY 1),
             idx AS (SELECT day,
                            CAST(row_number() OVER (ORDER BY day) AS DOUBLE)
                                AS x,
                            y
                     FROM daily),
             ic AS (SELECT day, x, y,
                           CASE WHEN CAST(x AS BIGINT) % 2 = 1
                                THEN 1 ELSE 0 END AS calib
                    FROM idx),
             st AS (SELECT count(*) AS nc, avg(x) AS mx, avg(y) AS my,
                           covar_pop(x, y) / var_pop(x) AS slope
                    FROM ic WHERE calib = 1),
             r AS MATERIALIZED (SELECT day, x, calib, nc,
                          abs(y - (my - slope * mx) - slope * x) AS ar
                   FROM ic, st),
             ranked AS (SELECT *, row_number() OVER (PARTITION BY calib
                                  ORDER BY ar, day) AS rn
                        FROM r),
             q AS (SELECT min(ar) AS q FROM ranked
                   WHERE calib = 1
                     AND rn >= ceil((nc + 1.0) * {1.0 - CONF_ALPHA}))
        SELECT CAST(max(CASE WHEN calib = 1 THEN nc END) AS BIGINT)
                   AS n_calib,
               CAST(sum(1 - calib) AS BIGINT) AS n_test,
               round(max(q), 6) AS q_radius,
               round(sum(CASE WHEN calib = 0 AND ar <= q
                         THEN 1 ELSE 0 END) * 1.0
                     / sum(1 - calib), 6) AS coverage,
               CAST({CONF_ALPHA} AS DOUBLE) AS alpha
        FROM r, q
    """


def _fwl_sql() -> str:
    return """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      AS DOUBLE) AS c,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS DOUBLE) AS p
               FROM events GROUP BY 1),
             idx AS (SELECT CAST(row_number() OVER (ORDER BY day)
                                 AS DOUBLE) AS x, c, p
                     FROM daily),
             st AS (SELECT count(*) AS n,
                           covar_pop(x, c) AS sxc, covar_pop(x, p) AS sxp,
                           covar_pop(c, p) AS scp, var_pop(x) AS sxx,
                           var_pop(c) AS scc, var_pop(p) AS spp
                    FROM idx)
        SELECT CAST(n AS BIGINT) AS n,
               round(scp / scc, 6) AS beta_naive,
               round((scp - sxc * sxp / sxx)
                     / (scc - sxc * sxc / sxx), 6) AS beta_controlled,
               round(scp / sqrt(scc * spp), 6) AS corr_raw,
               round((scp - sxc * sxp / sxx)
                     / sqrt((scc - sxc * sxc / sxx)
                            * (spp - sxp * sxp / sxx)), 6) AS corr_partial
        FROM st
    """


def _croston_sql() -> str:
    from deusu_spark.pipelines import CROSTON_ALPHA, CROSTON_USER_MOD

    a = f"CAST({CROSTON_ALPHA} AS DOUBLE)"
    return f"""
        WITH RECURSIVE
             rare AS (SELECT CAST(ts AS DATE) AS day,
                             CAST(count(*) AS DOUBLE) AS d
                      FROM events
                      WHERE event_type = 'error'
                        AND user_id % {CROSTON_USER_MOD} = 0
                      GROUP BY 1),
             bounds AS (SELECT CAST(min(ts) AS DATE) AS lo,
                               CAST(max(ts) AS DATE) AS hi
                        FROM events),
             grid AS (SELECT CAST(unnest(generate_series(lo, hi,
                                  INTERVAL 1 DAY)) AS DATE) AS day
                      FROM bounds),
             filled AS (SELECT g.day, coalesce(r.d, 0.0) AS d
                        FROM grid g LEFT JOIN rare r USING (day)),
             idx AS (SELECT row_number() OVER (ORDER BY day) AS i, d
                     FROM filled),
             n AS (SELECT count(*) AS t FROM idx),
             cr(i, z, p, q) AS (
                 SELECT 0, CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE),
                        CAST(1 AS DOUBLE)
                 UNION ALL
                 SELECT cr.i + 1,
                        CASE WHEN idx.d > 0 THEN
                            CASE WHEN cr.z < 0 THEN idx.d
                                 ELSE {a} * idx.d + (1 - {a}) * cr.z END
                        ELSE cr.z END,
                        CASE WHEN idx.d > 0 THEN
                            CASE WHEN cr.z < 0 THEN cr.q
                                 ELSE {a} * cr.q + (1 - {a}) * cr.p END
                        ELSE cr.p END,
                        CASE WHEN idx.d > 0 THEN 1.0 ELSE cr.q + 1.0 END
                 FROM cr JOIN idx ON idx.i = cr.i + 1)
        SELECT (SELECT t FROM n) AS n_days,
               (SELECT count(*) FROM idx WHERE d > 0) AS n_demand_days,
               round(z, 6) AS smoothed_size,
               round(p, 6) AS smoothed_interval,
               round(z / p, 6) AS forecast_rate
        FROM cr WHERE i = (SELECT t FROM n)
    """


def _stl_anomalies_sql() -> str:
    from deusu_spark.pipelines import STL_MAD_K

    return f"""
        WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
                               count(*) AS cnt
                        FROM events GROUP BY 1, 2),
             wt AS (SELECT event_type, h, cnt,
                           avg(cnt) OVER (PARTITION BY event_type
                                          ORDER BY epoch(h)
                                          RANGE BETWEEN 86399 PRECEDING
                                                    AND CURRENT ROW)
                               AS trend
                    FROM hourly),
             hm AS (SELECT event_type, hour(h) AS hod, avg(cnt) AS hod_mean
                    FROM hourly GROUP BY 1, 2),
             om AS (SELECT event_type, avg(cnt) AS type_mean
                    FROM hourly GROUP BY 1),
             dev AS MATERIALIZED (SELECT wt.event_type, wt.h,
                            abs(cnt - trend - (hod_mean - type_mean)) AS ar
                     FROM wt
                     JOIN hm ON hm.event_type = wt.event_type
                            AND hm.hod = hour(wt.h)
                     JOIN om ON om.event_type = wt.event_type),
             mad AS (SELECT event_type, quantile_cont(ar, 0.5) AS mad
                     FROM dev GROUP BY 1),
             mx AS (SELECT event_type, max(ar) AS maxar
                    FROM dev GROUP BY 1)
        SELECT d.event_type, count(*) AS n_hours,
               round(any_value(m.mad), 6) AS mad,
               CAST(sum(CASE WHEN d.ar > {STL_MAD_K} * m.mad
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
               round(max(d.ar), 6) AS max_abs_resid,
               min(CASE WHEN d.ar = x.maxar THEN d.h END) AS worst_hour
        FROM dev d JOIN mad m USING (event_type) JOIN mx x USING (event_type)
        GROUP BY d.event_type ORDER BY d.event_type
    """


def _err_eval_sql() -> str:
    from deusu_spark.pipelines import ERR_K, ERR_MAXREL

    denom = float(2**ERR_MAXREL)
    return f"""
        WITH tok AS ({_TOKS}),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
             ad AS (SELECT avg(dl) AS avgdl FROM dl),
             nn AS (SELECT count(*) AS n FROM documents),
             qt AS (SELECT DISTINCT doc_id, t FROM tok
                    WHERE t IN ('spark', 'join')),
             dfs AS (SELECT t, count(*) AS df FROM qt GROUP BY t),
             scored AS (
                 SELECT doc_id,
                        round(sum(ln(1.0 + (nn.n - dfs.df + 0.5)
                                           / (dfs.df + 0.5))
                              * (1.2 + 1.0) * 1.0
                              / (1.0 + 1.2 * (1 - 0.75
                                              + 0.75 * dl.dl / ad.avgdl))),
                              5) AS score
                 FROM qt JOIN dfs USING (t) JOIN dl USING (doc_id), nn, ad
                 GROUP BY doc_id
                 ORDER BY score DESC, doc_id LIMIT {ERR_K}),
             ranked AS (SELECT doc_id,
                               row_number() OVER (ORDER BY score DESC,
                                                  doc_id) AS i
                        FROM scored),
             rel AS (SELECT doc_id, count(*) AS rel FROM qt GROUP BY doc_id),
             rows_ AS (SELECT i,
                              (pow(2.0, coalesce(rel, 0)) - 1.0) / {denom}
                                  AS r
                       FROM ranked LEFT JOIN rel USING (doc_id)),
             pr AS (SELECT i, r,
                           coalesce(exp(sum(ln(1.0 - r)) OVER (
                               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)), 1.0) AS stopfree
                    FROM rows_)
        SELECT {ERR_K} AS k,
               CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rel_in_k,
               round(sum(r * stopfree / i), 6) AS err
        FROM pr
    """


def _newman_modularity_sql() -> str:
    ctes, last = _lpa_ctes()
    return f"""
        WITH {ctes},
             deg AS (SELECT u, count(*) AS dg FROM adj GROUP BY u),
             mm AS (SELECT count(*) AS m FROM e),
             ec AS (SELECT a.lab AS lab, count(*) AS e_c
                    FROM e JOIN {last} a ON a.node = e.u
                           JOIN {last} b ON b.node = e.v
                    WHERE a.lab = b.lab GROUP BY 1),
             dc AS (SELECT lab, sum(dg) AS d_c, count(*) AS size
                    FROM {last} JOIN deg ON node = u GROUP BY lab),
             terms AS (SELECT dc.lab, size,
                              coalesce(e_c, 0) AS e_in, d_c,
                              coalesce(e_c, 0) * 1.0 / (SELECT m FROM mm)
                              - (d_c / (2.0 * (SELECT m FROM mm)))
                                * (d_c / (2.0 * (SELECT m FROM mm)))
                                  AS contrib
                       FROM dc LEFT JOIN ec USING (lab)),
             qq AS (SELECT round(sum(contrib), 6) AS q_modularity
                    FROM terms)
        SELECT lab AS community, CAST(size AS BIGINT) AS size,
               CAST(e_in AS BIGINT) AS e_in, CAST(d_c AS BIGINT) AS d_c,
               round(contrib, 6) AS contrib, q_modularity
        FROM terms, qq ORDER BY community
    """


def _hodges_lehmann_sql() -> str:
    return """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, avg(value) AS x
                       FROM events GROUP BY 1),
             idx AS (SELECT row_number() OVER (ORDER BY day) AS i, x
                     FROM daily),
             pairs AS (SELECT (a.x + b.x) / 2.0 AS w
                       FROM idx a JOIN idx b ON a.i <= b.i),
             st AS (SELECT count(*) AS n_pairs,
                           quantile_cont(w, 0.5) AS hl
                    FROM pairs),
             base AS (SELECT count(*) AS n_days,
                             quantile_cont(x, 0.5) AS med
                      FROM idx)
        SELECT n_days, n_pairs, round(med, 6) AS plain_median,
               round(hl, 6) AS hl_estimate
        FROM base, st
    """


def _nb_dispersion_fit_sql() -> str:
    return """
        WITH active AS (SELECT user_id, CAST(ts AS DATE) AS day,
                               count(*) AS c
                        FROM events GROUP BY 1, 2),
             st AS (SELECT count(*) AS cells_active, sum(c) AS total,
                           sum(c * c) AS total2
                    FROM active),
             u AS (SELECT count(DISTINCT user_id) AS nu FROM events),
             d2 AS (SELECT count(DISTINCT CAST(ts AS DATE)) AS nd
                    FROM events),
             mo AS (SELECT cells_active, nu, nd,
                           total / (nu * nd * 1.0) AS m,
                           total2 / (nu * nd * 1.0)
                           - (total / (nu * nd * 1.0))
                             * (total / (nu * nd * 1.0)) AS v
                    FROM st, u, d2)
        SELECT CAST(nu AS INTEGER) AS n_users,
               CAST(nd AS INTEGER) AS n_days,
               CAST(cells_active AS BIGINT) AS cells_active,
               round(m, 6) AS mean_per_cell,
               round(v, 6) AS var_per_cell,
               round(v / m, 6) AS dispersion,
               round(m * m / (v - m), 6) AS nb_r,
               round(m / v, 6) AS nb_p,
               round(1.0 - cells_active / (nu * nd * 1.0), 6)
                   AS obs_zero_frac,
               round(pow(m / v, m * m / (v - m)), 6) AS nb_zero_frac
        FROM mo
    """


def _power_analysis_sql() -> str:
    from deusu_spark.pipelines import (
        PWR_MDE_FRAC,
        PWR_Z_ALPHA,
        PWR_Z_BETA,
    )

    zz = repr((PWR_Z_ALPHA + PWR_Z_BETA) ** 2)
    f = repr(PWR_MDE_FRAC)
    narm = f"ceil(2.0 * s2 * {zz} / ((m * {f}) * (m * {f})))"
    return f"""
        WITH st AS (SELECT avg(value) AS m, var_samp(value) AS s2
                    FROM events),
             dau AS (SELECT avg(u) AS avg_dau FROM (
                        SELECT CAST(ts AS DATE) AS day,
                               count(DISTINCT user_id) AS u
                        FROM events GROUP BY 1))
        SELECT round(m, 6) AS mean_value, round(s2, 6) AS var_value,
               round(m * {f}, 6) AS mde,
               CAST({narm} AS BIGINT) AS n_per_arm,
               round(avg_dau, 6) AS avg_daily_users,
               CAST(ceil(2.0 * {narm} / avg_dau) AS BIGINT)
                   AS days_required
        FROM st, dau
    """


def _clustering_coefficient_sql() -> str:
    from deusu_spark.pipelines import CC_MAX_PART

    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                    WHERE l_partkey < {CC_MAX_PART}),
             e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                   FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   WHERE a.l_partkey < b.l_partkey),
             deg AS (SELECT n, count(*) AS dg FROM (
                        SELECT u AS n FROM e
                        UNION ALL SELECT v FROM e) GROUP BY n),
             tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                     FROM e e1 JOIN e e2 ON e2.u = e1.v
                              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
             corners AS (SELECT n, count(*) AS t_v FROM (
                            SELECT a AS n FROM tri
                            UNION ALL SELECT b FROM tri
                            UNION ALL SELECT c FROM tri) GROUP BY n),
             per AS (SELECT deg.n, dg, coalesce(t_v, 0) AS t_v,
                            dg * (dg - 1) / 2.0 AS wedges_v
                     FROM deg LEFT JOIN corners USING (n))
        SELECT count(*) AS n_nodes,
               CAST(sum(dg) / 2 AS BIGINT) AS n_edges,
               CAST(sum(t_v) / 3 AS BIGINT) AS n_triangles,
               round(sum(t_v) / sum(wedges_v), 6) AS transitivity,
               round(avg(CASE WHEN dg >= 2 THEN t_v / wedges_v END), 6)
                   AS avg_local_cc
        FROM per
    """


def _cramers_v_sql() -> str:
    return """
        WITH j AS (SELECT c_mktsegment AS r, o_orderpriority AS col
                   FROM orders JOIN customer ON o_custkey = c_custkey),
             obs AS (SELECT r, col, count(*) AS o FROM j GROUP BY 1, 2),
             rm AS (SELECT r, sum(o) AS nr2 FROM obs GROUP BY r),
             cm AS (SELECT col, sum(o) AS nc2 FROM obs GROUP BY col),
             nn AS (SELECT count(*) AS n FROM j),
             grid AS (SELECT rm.r, cm.col, coalesce(obs.o, 0) AS o,
                             nr2 * nc2 * 1.0 / (SELECT n FROM nn) AS e
                      FROM rm CROSS JOIN cm
                      LEFT JOIN obs ON obs.r = rm.r AND obs.col = cm.col),
             c2 AS (SELECT sum((o - e) * (o - e) / e) AS chi2,
                           count(DISTINCT r) AS nr2,
                           count(DISTINCT col) AS nc2
                    FROM grid)
        SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n,
               CAST(nr2 AS BIGINT) AS n_rows,
               CAST(nc2 AS BIGINT) AS n_cols,
               round(chi2, 6) AS chi2,
               round(sqrt(chi2 / ((SELECT n FROM nn)
                                  * (least(nr2, nc2) - 1))), 6)
                   AS cramers_v
        FROM c2
    """


def _ece_calibration_sql() -> str:
    from deusu_spark.pipelines import CALIB_BINS

    return f"""
        WITH {_ft_p_ctes()},
             l AS (SELECT s.doc_id, p,
                          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                   FROM s JOIN documents d ON s.doc_id = d.doc_id),
             b AS (SELECT least(CAST(floor(p * {CALIB_BINS}) AS INTEGER),
                                {CALIB_BINS - 1}) AS bin,
                          count(*) AS n, avg(p) AS mean_p, avg(y) AS obs
                   FROM l GROUP BY 1)
        SELECT CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_bins,
               round(sum(n * abs(mean_p - obs)) / sum(n), 6) AS ece,
               round(max(abs(mean_p - obs)), 6) AS mce
        FROM b
    """


def _taylor_law_sql() -> str:
    return """
        WITH nd AS (SELECT count(DISTINCT CAST(ts AS DATE)) AS nd
                    FROM events),
             per0 AS (SELECT user_id, sum(c) AS s1, sum(c * c) AS s2
                      FROM (SELECT user_id, CAST(ts AS DATE) AS day,
                                   count(*) AS c
                            FROM events GROUP BY 1, 2)
                      GROUP BY user_id),
             pts AS (SELECT ln(m) AS lm, ln(v) AS lv FROM (
                        SELECT s1 / (SELECT nd * 1.0 FROM nd) AS m,
                               s2 / (SELECT nd * 1.0 FROM nd)
                               - (s1 / (SELECT nd * 1.0 FROM nd))
                                 * (s1 / (SELECT nd * 1.0 FROM nd)) AS v
                        FROM per0)
                     WHERE v > 0 AND m > 0),
             st AS (SELECT count(*) AS n_users,
                           covar_pop(lm, lv) / var_pop(lm) AS b,
                           avg(lm) AS mlm, avg(lv) AS mlv,
                           covar_pop(lm, lv)
                               / sqrt(var_pop(lm) * var_pop(lv)) AS r
                    FROM pts)
        SELECT CAST(n_users AS BIGINT) AS n_users,
               round(b, 6) AS taylor_b,
               round(mlv - b * mlm, 6) AS ln_a,
               round(r * r, 6) AS r2
        FROM st
    """


def _burstiness_index_sql() -> str:
    from deusu_spark.pipelines import BURST_MIN_GAPS

    return f"""
        WITH gaps AS (SELECT user_id, g * 1.0 AS g FROM (
                 SELECT user_id,
                        CAST(floor(epoch(ts)) AS BIGINT)
                        - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                              PARTITION BY user_id ORDER BY ts, event_id)
                            AS g
                 FROM events) WHERE g > 0),
             per AS (SELECT (s - m) / (s + m) AS b FROM (
                        SELECT count(*) AS n, avg(g) AS m,
                               stddev_pop(g) AS s
                        FROM gaps GROUP BY user_id)
                     WHERE n >= {BURST_MIN_GAPS}),
             stats AS (SELECT round(avg(b), 6) AS mean_b,
                              count(*) AS n_users
                       FROM per)
        SELECT CASE WHEN b < -1.0 / 3 THEN 'regular'
                    WHEN b < 0 THEN 'near_regular'
                    WHEN b < 1.0 / 3 THEN 'near_poisson'
                    ELSE 'bursty' END AS band,
               count(*) AS n,
               CAST(any_value(n_users) AS BIGINT) AS n_users,
               any_value(mean_b) AS mean_b
        FROM per, stats GROUP BY 1 ORDER BY 1
    """


def _ipw_ate_sql() -> str:
    return """
        WITH rows_ AS (SELECT event_type AS s,
                              CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END
                                  AS t,
                              value AS y
                       FROM events),
             prop AS (SELECT s, sum(t) * 1.0 / count(*) AS e
                      FROM rows_ GROUP BY s),
             j AS (SELECT t, y, e FROM rows_ JOIN prop USING (s)),
             agg AS (SELECT count(*) AS n,
                            sum(t * y / e) AS num1, sum(t / e) AS den1,
                            sum((1 - t) * y / (1.0 - e)) AS num0,
                            sum((1 - t) / (1.0 - e)) AS den0
                     FROM j)
        SELECT CAST(n AS BIGINT) AS n,
               round(num1 / den1, 6) AS mu_treated,
               round(num0 / den0, 6) AS mu_control,
               round(num1 / den1 - num0 / den0, 6) AS ate_ipw
        FROM agg
    """


def _jackknife_ratio_sql() -> str:
    return """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS DOUBLE) AS p,
                 CAST(sum(CASE WHEN event_type = 'click'
                          THEN 1 ELSE 0 END) AS DOUBLE) AS c
               FROM events GROUP BY 1),
             tot AS (SELECT sum(p) AS tp, sum(c) AS tc, count(*) AS n
                     FROM daily),
             reps AS (SELECT n, tp, tc, (tp - p) / (tc - c) AS r_i
                      FROM daily, tot),
             st AS (SELECT max(n) AS n, max(tp) AS tp, max(tc) AS tc,
                           avg(r_i) AS rbar, var_pop(r_i) AS v
                    FROM reps)
        SELECT CAST(n AS BIGINT) AS n_days,
               round(tp / tc, 6) AS ratio,
               round(sqrt((n - 1.0) * v), 6) AS jk_se,
               round((n - 1.0) * (rbar - tp / tc), 6) AS jk_bias
        FROM st
    """


def _kish_neff_sql() -> str:
    return """
        SELECT event_type, count(*) AS n,
               round(sum(value) * sum(value) / sum(value * value), 6)
                   AS n_eff,
               round(sum(value) * sum(value) / sum(value * value)
                     / count(*), 6) AS efficiency,
               round(count(*) * sum(value * value)
                     / (sum(value) * sum(value)), 6) AS design_effect
        FROM events GROUP BY 1 ORDER BY 1
    """


def _ipf_raking_sql() -> str:
    from deusu_spark.pipelines import IPF_ROUNDS

    # Each round reads the previous round's cells twice, so inlined CTEs
    # grow the plan 4x per round (IPF_ROUNDS=5: ~1,000 copies of the
    # orders-customer join, minutes of CPU and >12 GiB in DuckDB).
    # MATERIALIZED evaluates each CTE once; the result is the same.
    rt = "(SELECT n * 1.0 / nr FROM nn)"
    ct = "(SELECT n * 1.0 / np FROM nn)"
    ctes = [
        """cells0 AS MATERIALIZED (SELECT c_mktsegment AS r, o_orderpriority AS p,
                             count(*) AS cnt, CAST(1.0 AS DOUBLE) AS w
                      FROM orders JOIN customer ON o_custkey = c_custkey
                      GROUP BY 1, 2)""",
        """nn AS MATERIALIZED (SELECT sum(cnt) AS n, count(DISTINCT r) AS nr,
                         count(DISTINCT p) AS np
                  FROM cells0)""",
    ]
    for i in range(1, IPF_ROUNDS + 1):
        ctes.append(
            f"""cr{i} AS MATERIALIZED (SELECT r, sum(cnt * w) AS rsum
                      FROM cells{i - 1} GROUP BY r),
             ca{i} AS MATERIALIZED (SELECT c.r, c.p, c.cnt,
                              c.w * {rt} / rsum AS w
                       FROM cells{i - 1} c JOIN cr{i} USING (r)),
             cc{i} AS MATERIALIZED (SELECT p, sum(cnt * w) AS csum
                       FROM ca{i} GROUP BY p),
             cells{i} AS MATERIALIZED (SELECT c.r, c.p, c.cnt,
                                 c.w * {ct} / csum AS w
                          FROM ca{i} c JOIN cc{i} USING (p))"""
        )
    last = f"cells{IPF_ROUNDS}"
    chain = ",\n ".join(ctes)
    return f"""
        WITH {chain},
             err AS MATERIALIZED (SELECT round(max(abs(rsum - {rt})) / {rt}, 6)
                                AS max_row_err
                     FROM (SELECT r, sum(cnt * w) AS rsum
                           FROM {last} GROUP BY r))
        SELECT r, p, cnt, round(w, 6) AS w,
               round(cnt * w, 6) AS raked, max_row_err
        FROM {last}, err ORDER BY r, p
    """


def _paired_ttest_sql() -> str:
    return """
        WITH e AS (SELECT user_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS s,
                          value AS v
                   FROM events),
             mm AS (SELECT (min(s) + max(s)) / 2.0 AS cut FROM e),
             per AS (SELECT user_id,
                            avg(CASE WHEN s < (SELECT cut FROM mm)
                                THEN v END) AS pre,
                            avg(CASE WHEN s >= (SELECT cut FROM mm)
                                THEN v END) AS po
                     FROM e GROUP BY user_id),
             d AS (SELECT po - pre AS d FROM per
                   WHERE pre IS NOT NULL AND po IS NOT NULL),
             st AS (SELECT count(*) AS n, avg(d) AS md,
                           stddev_samp(d) AS sd
                    FROM d)
        SELECT CAST(n AS BIGINT) AS n_pairs,
               round(md, 6) AS mean_diff, round(sd, 6) AS sd_diff,
               round(md / (sd / sqrt(n)), 6) AS t_stat,
               CAST(n - 1 AS BIGINT) AS df
        FROM st
    """


def _mcnemar_test_sql() -> str:
    from deusu_spark.pipelines import MCNEMAR_MIN

    return f"""
        WITH e AS (SELECT user_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS s,
                          CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END AS conv
                   FROM events),
             mm AS (SELECT (min(s) + max(s)) / 2.0 AS cut FROM e),
             per AS (SELECT user_id,
                            CASE WHEN count(CASE WHEN s <
                                       (SELECT cut FROM mm) THEN 1 END) > 0
                                 THEN CASE WHEN sum(CASE WHEN s <
                                            (SELECT cut FROM mm)
                                            THEN conv ELSE 0 END)
                                           >= {MCNEMAR_MIN}
                                      THEN 1 ELSE 0 END
                            END AS pre,
                            CASE WHEN count(CASE WHEN s >=
                                       (SELECT cut FROM mm) THEN 1 END) > 0
                                 THEN CASE WHEN sum(CASE WHEN s >=
                                            (SELECT cut FROM mm)
                                            THEN conv ELSE 0 END)
                                           >= {MCNEMAR_MIN}
                                      THEN 1 ELSE 0 END
                            END AS po
                     FROM e GROUP BY user_id),
             pf AS (SELECT pre, po FROM per
                    WHERE pre IS NOT NULL AND po IS NOT NULL),
             st AS (SELECT count(*) AS n_paired,
                           coalesce(sum(CASE WHEN pre = 1 AND po = 0
                                        THEN 1 END), 0) AS b,
                           coalesce(sum(CASE WHEN pre = 0 AND po = 1
                                        THEN 1 END), 0) AS c
                    FROM pf)
        SELECT CAST(n_paired AS BIGINT) AS n_paired,
               CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
               CASE WHEN b + c > 0
                    THEN round((abs(b - c) - 1.0) * (abs(b - c) - 1.0)
                               / (b + c), 6)
               END AS chi2_corrected
        FROM st
    """


_TOKPAIR = r"""SELECT CAST(len(list_filter(regexp_split_to_array(text,
                            '\s+'), x -> x <> '')) AS DOUBLE) AS ws,
                      CAST(len(regexp_extract_all(lower(text),
                            '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS DOUBLE) AS bpe
               FROM documents"""


def _bland_altman_sql() -> str:
    return f"""
        WITH rows_ AS (SELECT (ws + bpe) / 2.0 AS m, bpe - ws AS diff
                       FROM ({_TOKPAIR})),
             st AS (SELECT count(*) AS n, avg(diff) AS bias,
                           stddev_samp(diff) AS sd
                    FROM rows_),
             outside AS (SELECT round(avg(CASE WHEN abs(diff - bias)
                                               > 1.96 * sd
                                          THEN 1 ELSE 0 END), 6)
                                    AS frac_outside
                         FROM rows_, st)
        SELECT CAST(n AS BIGINT) AS n, round(bias, 6) AS bias,
               round(sd, 6) AS sd_diff,
               round(bias - 1.96 * sd, 6) AS loa_low,
               round(bias + 1.96 * sd, 6) AS loa_high,
               frac_outside
        FROM st, outside
    """


def _deming_regression_sql() -> str:
    dem = (
        "(syy - sxx + sqrt((syy - sxx) * (syy - sxx)"
        " + 4.0 * sxy * sxy)) / (2.0 * sxy)"
    )
    return f"""
        WITH rows_ AS (SELECT ws AS x, bpe AS y FROM ({_TOKPAIR})),
             st AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
                           var_pop(x) AS sxx, var_pop(y) AS syy,
                           covar_pop(x, y) AS sxy
                    FROM rows_)
        SELECT CAST(n AS BIGINT) AS n,
               round({dem}, 6) AS slope_deming,
               round(my - ({dem}) * mx, 6) AS intercept_deming,
               round(sxy / sxx, 6) AS slope_ols,
               round(sxy / sqrt(sxx * syy), 6) AS corr
        FROM st
    """


def _pacf_daily_sql() -> str:
    from deusu_spark.pipelines import PACF_K

    ctes = [
        """daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
                     FROM events GROUP BY 1),
             idx AS (SELECT row_number() OVER (ORDER BY day) AS i,
                            cnt * 1.0 AS x
                     FROM daily),
             mu AS (SELECT avg(x) AS mu FROM idx),
             c AS (SELECT i, x - (SELECT mu FROM mu) AS dx FROM idx),
             denom AS (SELECT sum(dx * dx) AS ss FROM c),
             lags AS (SELECT CAST(range AS INTEGER) + 1 AS lag
                      FROM range({K})),
             rv AS MATERIALIZED (SELECT lag,
                           round(sum(a.dx * b.dx)
                                 / (SELECT ss FROM denom), 6) AS acf
                    FROM c a CROSS JOIN lags
                    JOIN c b ON b.i = a.i + lag
                    GROUP BY lag)""".format(K=PACF_K),
        "p1 AS MATERIALIZED (SELECT 1 AS j,"
        " (SELECT acf FROM rv WHERE lag = 1) AS v)",
    ]
    for k in range(2, PACF_K + 1):
        ctes.append(
            f"""num{k} AS MATERIALIZED (
                       SELECT (SELECT acf FROM rv WHERE lag = {k})
                              - coalesce(sum(p.v * r2.acf), 0) AS nm
                       FROM p{k - 1} p JOIN rv r2 ON r2.lag = {k} - p.j),
             den{k} AS MATERIALIZED (
                        SELECT 1.0 - coalesce(sum(p.v * r2.acf), 0) AS dn
                        FROM p{k - 1} p JOIN rv r2 ON r2.lag = p.j),
             phi{k} AS MATERIALIZED (SELECT nm / dn AS v
                                     FROM num{k}, den{k}),
             p{k} AS MATERIALIZED (SELECT p.j,
                             p.v - (SELECT v FROM phi{k}) * q.v AS v
                      FROM p{k - 1} p JOIN p{k - 1} q ON q.j = {k} - p.j
                      UNION ALL
                      SELECT {k}, (SELECT v FROM phi{k}))"""
        )
    rows = "\n UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS lag, "
        f"(SELECT acf FROM rv WHERE lag = {k}) AS acf, "
        f"round((SELECT v FROM p{k} WHERE j = {k}), 6) AS pacf"
        for k in range(1, PACF_K + 1)
    )
    chain = ",\n ".join(ctes)
    return f"""
        WITH {chain}
        SELECT * FROM ({rows}) ORDER BY lag
    """


def _runs_test_sql() -> str:
    return """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                              CAST(count(*) AS DOUBLE) AS x
                       FROM events GROUP BY 1),
             med AS (SELECT quantile_cont(x, 0.5) AS med FROM daily),
             s AS (SELECT day,
                          CASE WHEN x > (SELECT med FROM med)
                               THEN 1 ELSE 0 END AS s
                   FROM daily WHERE x <> (SELECT med FROM med)),
             runs AS (SELECT s,
                             CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                                    OR lag(s) OVER (ORDER BY day) <> s
                                  THEN 1 ELSE 0 END AS new_run
                      FROM s),
             st AS (SELECT count(*) AS n, sum(s) AS n1,
                           sum(1 - s) AS n2, sum(new_run) AS r
                    FROM runs)
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(n1 AS BIGINT) AS n_above,
               CAST(n2 AS BIGINT) AS n_below,
               CAST(r AS BIGINT) AS n_runs,
               round(1.0 + 2.0 * n1 * n2 / n, 6) AS expected_runs,
               round((r - (1.0 + 2.0 * n1 * n2 / n))
                     / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                            / (n * n * (n - 1.0))), 6) AS z
        FROM st
    """


def _newey_west_se_sql() -> str:
    from deusu_spark.pipelines import NW_LAGS

    return f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS day, avg(value) AS x
                       FROM events GROUP BY 1),
             idx AS (SELECT row_number() OVER (ORDER BY day) AS i, x
                     FROM daily),
             mu AS (SELECT avg(x) AS mu, count(*) AS n FROM idx),
             c AS (SELECT i, x - (SELECT mu FROM mu) AS dx FROM idx),
             g0 AS (SELECT sum(dx * dx) / (SELECT n FROM mu) AS g0
                    FROM c),
             lags AS (SELECT CAST(range AS INTEGER) + 1 AS lag
                      FROM range({NW_LAGS})),
             gl AS (SELECT lag, sum(a.dx * b.dx) AS s
                    FROM c a CROSS JOIN lags
                    JOIN c b ON b.i = a.i + lag
                    GROUP BY lag),
             tail AS (SELECT sum((1.0 - lag / ({NW_LAGS} + 1.0)) * s
                                 / (SELECT n FROM mu)) AS tail
                      FROM gl)
        SELECT CAST((SELECT n FROM mu) AS BIGINT) AS n_days,
               round(sqrt(g0 / (SELECT n FROM mu)), 6) AS se_iid,
               round(sqrt((g0 + 2.0 * tail) / (SELECT n FROM mu)), 6)
                   AS se_nw,
               round(sqrt((g0 + 2.0 * tail) / g0), 6) AS correction
        FROM g0, tail
    """


def _spectral_peaks_sql() -> str:
    import math as _m

    from deusu_spark.pipelines import SPECTRAL_PERIODS

    plist = ", ".join(str(p) for p in SPECTRAL_PERIODS)
    ang = f"2.0 * {_m.pi} * t / period"
    return f"""
        WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
                               count(*) AS cnt
                        FROM events GROUP BY 1),
             idx AS (SELECT row_number() OVER (ORDER BY h) AS t,
                            cnt * 1.0 AS x
                     FROM hourly),
             mu AS (SELECT avg(x) AS mu, count(*) AS n FROM idx),
             c AS (SELECT t, x - (SELECT mu FROM mu) AS dx,
                          (SELECT n FROM mu) AS n
                   FROM idx),
             periods AS (SELECT CAST(unnest([{plist}]) AS INTEGER)
                                    AS period),
             pw AS (SELECT period, max(n) AS n,
                           sum(dx * cos({ang})) AS cs,
                           sum(dx * sin({ang})) AS sn
                    FROM c CROSS JOIN periods GROUP BY period),
             pw2 AS MATERIALIZED (SELECT period, n,
                            (cs * cs + sn * sn) / n AS power
                     FROM pw),
             tot AS (SELECT sum(power) AS tp, max(power) AS mx FROM pw2)
        SELECT period, CAST(n AS BIGINT) AS n_hours,
               round(power, 6) AS power,
               round(power / tp, 6) AS share,
               CASE WHEN power = mx THEN 1 ELSE 0 END AS is_peak
        FROM pw2, tot ORDER BY period
    """


def _map_eval_sql() -> str:
    from deusu_spark.pipelines import MAP_K

    return f"""
        WITH tok AS ({_TOKS}),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
             ad AS (SELECT avg(dl) AS avgdl FROM dl),
             nn AS (SELECT count(*) AS n FROM documents),
             qt AS (SELECT DISTINCT doc_id, t FROM tok
                    WHERE t IN ('spark', 'join')),
             dfs AS (SELECT t, count(*) AS df FROM qt GROUP BY t),
             scored AS (
                 SELECT doc_id,
                        round(sum(ln(1.0 + (nn.n - dfs.df + 0.5)
                                           / (dfs.df + 0.5))
                              * (1.2 + 1.0) * 1.0
                              / (1.0 + 1.2 * (1 - 0.75
                                              + 0.75 * dl.dl / ad.avgdl))),
                              5) AS score
                 FROM qt JOIN dfs USING (t) JOIN dl USING (doc_id), nn, ad
                 GROUP BY doc_id
                 ORDER BY score DESC, doc_id LIMIT {MAP_K}),
             ranked AS (SELECT doc_id,
                               row_number() OVER (ORDER BY score DESC,
                                                  doc_id) AS i
                        FROM scored),
             rel_docs AS (SELECT DISTINCT doc_id FROM qt),
             nrel AS (SELECT count(*) AS r FROM rel_docs),
             rows_ AS (SELECT i, CASE WHEN rd.doc_id IS NOT NULL
                                      THEN 1 ELSE 0 END AS rel
                       FROM ranked
                       LEFT JOIN rel_docs rd USING (doc_id)),
             pw AS (SELECT i, rel,
                           sum(rel) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) * 1.0 / i
                               AS p_at_i
                    FROM rows_)
        SELECT {MAP_K} AS k,
               CAST((SELECT r FROM nrel) AS BIGINT) AS n_rel_total,
               round(max(CASE WHEN i = 10 THEN p_at_i END), 6) AS p_at_10,
               round(sum(CASE WHEN rel = 1 THEN p_at_i ELSE 0.0 END)
                     / (SELECT r FROM nrel), 6) AS average_precision,
               round(max(CASE WHEN i = least((SELECT r FROM nrel),
                                             {MAP_K})
                         THEN p_at_i END), 6) AS r_precision
        FROM pw
    """


def _markov_next_event_eval_sql() -> str:
    return """
        WITH e AS (SELECT user_id, event_id, ts, event_type,
                          CAST(floor(epoch(ts)) AS BIGINT) AS sec
                   FROM events),
             mm AS (SELECT (min(sec) + max(sec)) / 2.0 AS cut FROM e),
             seq AS (SELECT user_id, event_type AS s,
                            CASE WHEN sec >= (SELECT cut FROM mm)
                                 THEN 1 ELSE 0 END AS post,
                            lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS t,
                            lead(CASE WHEN sec >= (SELECT cut FROM mm)
                                      THEN 1 ELSE 0 END) OVER (
                                PARTITION BY user_id
                                ORDER BY ts, event_id) AS t_post
                     FROM e),
             tr AS (SELECT * FROM seq WHERE t IS NOT NULL),
             train AS (SELECT s, t, count(*) AS c FROM tr
                       WHERE post = 0 AND t_post = 0 GROUP BY 1, 2),
             pred AS (SELECT s, t AS pred FROM (
                         SELECT s, t, row_number() OVER (
                             PARTITION BY s ORDER BY c DESC, t) AS rn
                         FROM train) WHERE rn = 1),
             maj AS (SELECT t AS m FROM (
                        SELECT t, sum(c) AS c FROM train GROUP BY t
                        ORDER BY c DESC, t LIMIT 1)),
             test AS (SELECT s, t FROM tr
                      WHERE post = 1 AND t_post = 1),
             sc AS (SELECT t, pred FROM test LEFT JOIN pred USING (s))
        SELECT count(*) AS n_test,
               round(avg(CASE WHEN t = pred THEN 1 ELSE 0 END), 6)
                   AS acc_markov,
               round(avg(CASE WHEN t = (SELECT m FROM maj)
                         THEN 1 ELSE 0 END), 6) AS acc_majority,
               round(avg(CASE WHEN t = pred THEN 1 ELSE 0 END)
                     / avg(CASE WHEN t = (SELECT m FROM maj)
                           THEN 1 ELSE 0 END), 6) AS lift
        FROM sc
    """


def _price_elasticity_sql() -> str:
    return """
        WITH per AS (SELECT ln(price) AS lp, ln(qty) AS lq FROM (
                        SELECT avg(l_extendedprice / l_quantity) AS price,
                               sum(l_quantity) AS qty
                        FROM lineitem GROUP BY l_partkey)
                     WHERE price > 0 AND qty > 0),
             st AS (SELECT count(*) AS n_parts,
                           covar_pop(lp, lq) / var_pop(lp) AS beta,
                           avg(lp) AS mlp, avg(lq) AS mlq,
                           covar_pop(lp, lq)
                               / sqrt(var_pop(lp) * var_pop(lq)) AS r
                    FROM per)
        SELECT CAST(n_parts AS BIGINT) AS n_parts,
               round(beta, 6) AS elasticity,
               round(mlq - beta * mlp, 6) AS ln_intercept,
               round(r * r, 6) AS r2
        FROM st
    """


def _hhi_concentration_sql() -> str:
    return """
        WITH spend AS (SELECT c_nationkey, c_custkey,
                              sum(o_totalprice) AS s
                       FROM orders JOIN customer ON o_custkey = c_custkey
                       GROUP BY 1, 2)
        SELECT c_nationkey AS nationkey, count(*) AS n_customers,
               round(sum(s * s) / (sum(s) * sum(s)), 6) AS hhi,
               round(1.0 / (sum(s * s) / (sum(s) * sum(s))), 6)
                   AS effective_n
        FROM spend GROUP BY 1 ORDER BY 1
    """


def _rmst_sql() -> str:
    from deusu_spark.pipelines import KM_HORIZON_DAYS as H

    return f"""
        WITH firsts AS (SELECT user_id, min(ts) AS first_ts
                        FROM events GROUP BY 1),
             purch AS (SELECT user_id, min(ts) AS p_ts FROM events
                       WHERE event_type = 'purchase' GROUP BY 1),
             per AS (SELECT user_id,
                            CASE WHEN days_to_p IS NOT NULL
                                  AND days_to_p <= {H}
                                 THEN 1 ELSE 0 END AS event,
                            CASE WHEN days_to_p IS NOT NULL
                                  AND days_to_p <= {H}
                                 THEN days_to_p ELSE {H} END AS duration
                     FROM (SELECT f.user_id,
                                  date_diff('day', first_ts, p_ts)
                                      AS days_to_p
                           FROM firsts f LEFT JOIN purch USING (user_id))),
             tot AS (SELECT count(*) AS total FROM per),
             tbl AS (SELECT duration,
                            CAST(sum(event) AS BIGINT) AS n_events,
                            CAST(sum(1 - event) AS BIGINT) AS n_censored
                     FROM per GROUP BY 1),
             risk AS (SELECT duration, n_events, n_censored,
                             CAST((SELECT total FROM tot)
                                  - coalesce(sum(n_events + n_censored)
                                      OVER (ORDER BY duration
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0)
                                  AS BIGINT) AS at_risk
                      FROM tbl),
             km AS MATERIALIZED (SELECT duration,
                           exp(sum(ln(1.0 - n_events * 1.0 / at_risk))
                               OVER (ORDER BY duration)) AS survival
                    FROM risk),
             grid AS (SELECT CAST(unnest(range(0, {H})) AS INTEGER) AS k),
             sk AS (SELECT g.k, arg_max(km.survival, km.duration) AS s
                    FROM grid g JOIN km ON km.duration <= g.k
                    GROUP BY g.k),
             filled AS (SELECT coalesce(sk.s, 1.0) AS s
                        FROM grid LEFT JOIN sk USING (k))
        SELECT {H} AS horizon_days,
               CAST((SELECT total FROM tot) AS BIGINT) AS n_users,
               round(sum(s), 6) AS rmst,
               round(sum(s) / {float(H)}, 6) AS rmst_frac
        FROM filled
    """


def _cochran_armitage_sql() -> str:
    from deusu_spark.pipelines import CA_BAND, CA_BANDS, CA_SPEND_CUT

    return f"""
        WITH spend AS (SELECT o_custkey, sum(o_totalprice) AS spend
                       FROM orders GROUP BY 1),
             per AS (SELECT least(CAST(floor(c_acctbal / {CA_BAND})
                                       AS INTEGER), {CA_BANDS - 1})
                                AS band,
                            CASE WHEN coalesce(spend, 0.0)
                                      > {CA_SPEND_CUT}
                                 THEN 1 ELSE 0 END AS hv
                     FROM customer
                     LEFT JOIN spend ON c_custkey = o_custkey),
             pf AS (SELECT * FROM per WHERE band >= 0),
             g AS (SELECT band, count(*) AS n, sum(hv) AS r
                   FROM pf GROUP BY band),
             tot AS (SELECT sum(n) AS nn,
                            sum(r) * 1.0 / sum(n) AS pbar,
                            sum(band * r) AS swr,
                            sum(band * n) AS swn,
                            sum(band * band * n) AS sw2n
                     FROM g),
             zt AS (SELECT CASE WHEN pbar * (1 - pbar)
                                     * (sw2n - swn * swn * 1.0 / nn) > 0
                                THEN round((swr - pbar * swn)
                                     / sqrt(pbar * (1 - pbar)
                                            * (sw2n
                                               - swn * swn * 1.0 / nn)),
                                     6)
                           END AS z_trend
                    FROM tot)
        SELECT band, CAST(n AS BIGINT) AS n,
               CAST(r AS BIGINT) AS n_high_value,
               round(r * 1.0 / n, 6) AS rate, z_trend
        FROM g, zt ORDER BY band
    """


def _odds_ratio_2x2_sql() -> str:
    from deusu_spark.pipelines import OR_MIN_PURCH

    orr = "((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))"
    se = (
        "sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5)"
        " + 1.0 / (c + 0.5) + 1.0 / (d + 0.5))"
    )
    return f"""
        WITH per AS (SELECT user_id,
                            CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                          THEN 1 ELSE 0 END)
                                      >= {OR_MIN_PURCH}
                                 THEN 1 ELSE 0 END AS y
                     FROM events GROUP BY 1),
             cells AS (SELECT CASE WHEN user_id % 2 = 1
                                   THEN 1 ELSE 0 END AS t,
                              y, count(*) AS n
                       FROM per GROUP BY 1, 2),
             st AS (SELECT
                 coalesce(sum(CASE WHEN t = 1 AND y = 1 THEN n END), 0)
                     AS a,
                 coalesce(sum(CASE WHEN t = 1 AND y = 0 THEN n END), 0)
                     AS b,
                 coalesce(sum(CASE WHEN t = 0 AND y = 1 THEN n END), 0)
                     AS c,
                 coalesce(sum(CASE WHEN t = 0 AND y = 0 THEN n END), 0)
                     AS d
                 FROM cells)
        SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
               round({orr}, 6) AS odds_ratio,
               round(exp(ln({orr}) - 1.96 * {se}), 6) AS or_ci_low,
               round(exp(ln({orr}) + 1.96 * {se}), 6) AS or_ci_high,
               round(((a + 0.5) / (a + b + 1.0))
                     / ((c + 0.5) / (c + d + 1.0)), 6)
                   AS relative_risk,
               round(a * 1.0 / (a + b) - c * 1.0 / (c + d), 6)
                   AS risk_difference
        FROM st
    """


def _spc_imr_chart_sql() -> str:
    return """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                              CAST(count(*) AS DOUBLE) AS x
                       FROM events GROUP BY 1),
             mr AS (SELECT day, x,
                           abs(x - lag(x) OVER (ORDER BY day)) AS mr
                    FROM daily),
             st AS (SELECT count(*) AS n, avg(x) AS xbar,
                           avg(mr) AS mrbar
                    FROM mr)
        SELECT CAST(max(n) AS BIGINT) AS n_days,
               round(max(xbar), 6) AS xbar,
               round(max(mrbar), 6) AS mrbar,
               round(max(xbar + 2.66 * mrbar), 6) AS ucl_x,
               round(max(xbar - 2.66 * mrbar), 6) AS lcl_x,
               CAST(sum(CASE WHEN x > xbar + 2.66 * mrbar
                              OR x < xbar - 2.66 * mrbar
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_ooc_x,
               round(max(3.267 * mrbar), 6) AS ucl_mr,
               CAST(sum(CASE WHEN mr > 3.267 * mrbar
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_ooc_mr
        FROM mr, st
    """


def _price_index_sql() -> str:
    from deusu_spark.pipelines import PIDX_SPLIT_YEAR

    return f"""
        WITH pp AS (SELECT l_partkey,
                           CASE WHEN year(o_orderdate) >= {PIDX_SPLIT_YEAR}
                                THEN 1 ELSE 0 END AS per,
                           avg(l_extendedprice / l_quantity) AS p,
                           sum(l_quantity) AS q
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    GROUP BY 1, 2),
             m AS (SELECT l_partkey,
                          sum(CASE WHEN per = 0 THEN p END) AS p0,
                          sum(CASE WHEN per = 0 THEN q END) AS q0,
                          sum(CASE WHEN per = 1 THEN p END) AS p1,
                          sum(CASE WHEN per = 1 THEN q END) AS q1
                   FROM pp GROUP BY 1),
             mf AS (SELECT * FROM m
                    WHERE p0 IS NOT NULL AND p1 IS NOT NULL),
             agg AS (SELECT count(*) AS n_parts,
                            sum(p1 * q0) AS p1q0, sum(p0 * q0) AS p0q0,
                            sum(p1 * q1) AS p1q1, sum(p0 * q1) AS p0q1
                     FROM mf)
        SELECT CAST(n_parts AS BIGINT) AS n_parts_matched,
               round(p1q0 / p0q0, 6) AS laspeyres,
               round(p1q1 / p0q1, 6) AS paasche,
               round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1)), 6) AS fisher
        FROM agg
    """


def _profile_similarity_sql() -> str:
    return """
        WITH prof AS (SELECT event_type, hour(ts) AS hod,
                             CAST(count(*) AS DOUBLE) AS c
                      FROM events GROUP BY 1, 2),
             norms AS (SELECT event_type, sqrt(sum(c * c)) AS nrm
                       FROM prof GROUP BY 1),
             dots AS (SELECT a.event_type AS ta, b.event_type AS tb,
                             sum(a.c * b.c) AS dot
                      FROM prof a JOIN prof b
                        ON a.hod = b.hod AND a.event_type < b.event_type
                      GROUP BY 1, 2),
             pairs AS (SELECT x.event_type AS ta, y.event_type AS tb
                       FROM norms x CROSS JOIN norms y
                       WHERE x.event_type < y.event_type)
        SELECT ta AS type_a, tb AS type_b,
               round(coalesce(dot, 0.0) / (na.nrm * nb.nrm), 6) AS cosine
        FROM pairs LEFT JOIN dots USING (ta, tb)
                   JOIN norms na ON na.event_type = ta
                   JOIN norms nb ON nb.event_type = tb
        ORDER BY 1, 2
    """


def _adjusted_residuals_sql() -> str:
    return """
        WITH j AS (SELECT c_mktsegment AS r, o_orderpriority AS p
                   FROM orders JOIN customer ON o_custkey = c_custkey),
             obs AS (SELECT r, p, count(*) AS o FROM j GROUP BY 1, 2),
             rm AS (SELECT r, sum(o) AS nr FROM obs GROUP BY r),
             cm AS (SELECT p, sum(o) AS nc FROM obs GROUP BY p),
             nn AS (SELECT count(*) AS n FROM j),
             grid AS (SELECT rm.r, cm.p, coalesce(obs.o, 0) AS o,
                             nr * nc * 1.0 / (SELECT n FROM nn) AS e,
                             1.0 - nr * 1.0 / (SELECT n FROM nn) AS fr,
                             1.0 - nc * 1.0 / (SELECT n FROM nn) AS fc
                      FROM rm CROSS JOIN cm
                      LEFT JOIN obs ON obs.r = rm.r AND obs.p = cm.p)
        SELECT r, p, CAST(o AS BIGINT) AS o, round(e, 6) AS expected,
               round((o - e) / sqrt(e * fr * fc), 6) AS adj_resid,
               CASE WHEN abs((o - e) / sqrt(e * fr * fc)) > 2.0
                    THEN 1 ELSE 0 END AS significant
        FROM grid ORDER BY r, p
    """


def _seasonal_strength_sql() -> str:
    return """
        WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
                               count(*) AS cnt
                        FROM events GROUP BY 1, 2),
             wt AS (SELECT event_type, h, cnt,
                           avg(cnt) OVER (PARTITION BY event_type
                                          ORDER BY epoch(h)
                                          RANGE BETWEEN 86399 PRECEDING
                                                    AND CURRENT ROW)
                               AS trend
                    FROM hourly),
             hm AS (SELECT event_type, hour(h) AS hod, avg(cnt) AS hod_mean
                    FROM hourly GROUP BY 1, 2),
             om AS (SELECT event_type, avg(cnt) AS type_mean
                    FROM hourly GROUP BY 1),
             parts AS (SELECT wt.event_type,
                              hod_mean - type_mean AS s, trend,
                              cnt - trend - (hod_mean - type_mean) AS res
                       FROM wt
                       JOIN hm ON hm.event_type = wt.event_type
                              AND hm.hod = hour(wt.h)
                       JOIN om ON om.event_type = wt.event_type)
        SELECT event_type, count(*) AS n_hours,
               CASE WHEN var_pop(trend + res) > 0
                    THEN round(greatest(0.0, 1.0 - var_pop(res)
                                        / var_pop(trend + res)), 6)
               END AS trend_strength,
               CASE WHEN var_pop(s + res) > 0
                    THEN round(greatest(0.0, 1.0 - var_pop(res)
                                        / var_pop(s + res)), 6)
               END AS seasonal_strength
        FROM parts GROUP BY 1 ORDER BY 1
    """


def _newsvendor_quantile_sql() -> str:
    from deusu_spark.pipelines import NV_CO, NV_CU

    cr = NV_CU / (NV_CU + NV_CO)
    return f"""
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS DOUBLE) AS d
               FROM events GROUP BY 1),
             st AS (SELECT count(*) AS n_days, avg(d) AS mean_demand,
                           quantile_cont(d, {cr!r}) AS q_star
                    FROM daily)
        SELECT CAST(max(n_days) AS BIGINT) AS n_days,
               round(max(mean_demand), 6) AS mean_demand,
               CAST({cr!r} AS DOUBLE) AS critical_ratio,
               round(max(q_star), 6) AS q_star,
               round(avg(CASE WHEN d > q_star THEN 1 ELSE 0 END), 6)
                   AS frac_short_days
        FROM daily, st
    """


def _lin_ccc_sql() -> str:
    ccc = "2.0 * sxy / (sxx + syy + (mx - my) * (mx - my))"
    return f"""
        WITH rows_ AS (SELECT ws AS x, bpe AS y FROM ({_TOKPAIR})),
             st AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
                           var_pop(x) AS sxx, var_pop(y) AS syy,
                           covar_pop(x, y) AS sxy
                    FROM rows_)
        SELECT CAST(n AS BIGINT) AS n,
               round({ccc}, 6) AS ccc,
               round(sxy / sqrt(sxx * syy), 6) AS pearson_r,
               round(({ccc}) / (sxy / sqrt(sxx * syy)), 6)
                   AS bias_correction_cb
        FROM st
    """


def _youden_threshold_sql() -> str:
    from deusu_spark.pipelines import CALIB_BINS

    return f"""
        WITH {_ft_p_ctes()},
             l AS (SELECT s.doc_id, p,
                          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                   FROM s JOIN documents d ON s.doc_id = d.doc_id),
             bins AS (SELECT least(CAST(floor(p * {CALIB_BINS}) AS INTEGER),
                                   {CALIB_BINS - 1}) AS bin,
                             sum(y) AS pos, sum(1 - y) AS neg
                      FROM l GROUP BY 1),
             r2 AS MATERIALIZED (
                 SELECT bin, bin / {float(CALIB_BINS)} AS threshold,
                        sum(pos) OVER (ORDER BY bin ROWS BETWEEN CURRENT
                            ROW AND UNBOUNDED FOLLOWING) * 1.0
                            / sum(pos) OVER () AS tpr,
                        sum(neg) OVER (ORDER BY bin ROWS BETWEEN CURRENT
                            ROW AND UNBOUNDED FOLLOWING) * 1.0
                            / sum(neg) OVER () AS fpr
                 FROM bins),
             r3 AS MATERIALIZED (SELECT *, tpr - fpr AS j FROM r2),
             best AS (SELECT max(j) AS best_j FROM r3),
             bt AS (SELECT min(threshold) AS best_threshold
                    FROM r3, best WHERE j = best_j)
        SELECT bin, round(threshold, 6) AS threshold,
               round(tpr, 6) AS tpr, round(fpr, 6) AS fpr,
               round(j, 6) AS youden_j,
               round((SELECT best_j FROM best), 6) AS best_j,
               round((SELECT best_threshold FROM bt), 6)
                   AS best_threshold
        FROM r3 ORDER BY bin
    """


def _cronbach_alpha_sql() -> str:
    return """
        WITH counts AS (SELECT user_id, event_type, count(*) AS c
                        FROM events GROUP BY 1, 2),
             users AS (SELECT DISTINCT user_id FROM events),
             items AS (SELECT DISTINCT event_type FROM events),
             grid AS (SELECT u.user_id, i.event_type,
                             CAST(coalesce(c.c, 0) AS DOUBLE) AS c
                      FROM users u CROSS JOIN items i
                      LEFT JOIN counts c ON c.user_id = u.user_id
                                        AND c.event_type = i.event_type),
             iv AS (SELECT sum(v) AS sv FROM (
                       SELECT var_samp(c) AS v FROM grid
                       GROUP BY event_type)),
             tv AS (SELECT var_samp(t) AS vt, count(*) AS n_users FROM (
                       SELECT sum(c) AS t FROM grid GROUP BY user_id)),
             kk AS (SELECT count(*) AS k FROM items)
        SELECT CAST((SELECT k FROM kk) AS INTEGER) AS k_items,
               CAST(n_users AS BIGINT) AS n_users,
               round(sv, 6) AS sum_item_var,
               round(vt, 6) AS total_var,
               round(((SELECT k FROM kk) / ((SELECT k FROM kk) - 1.0))
                     * (1.0 - sv / vt), 6) AS alpha
        FROM iv, tv
    """


def _gini_split_sql() -> str:
    return """
        WITH lab AS (SELECT source,
                            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                     FROM documents),
             root AS (SELECT count(*) AS n, avg(y) AS p FROM lab),
             per AS (SELECT source, count(*) AS n_s, avg(y) AS p_s
                     FROM lab GROUP BY source),
             child AS (SELECT count(*) AS n_groups,
                              sum(n_s * 2.0 * p_s * (1.0 - p_s)) AS wsum
                       FROM per)
        SELECT CAST(n AS BIGINT) AS n_docs,
               CAST(n_groups AS BIGINT) AS n_groups,
               round(2.0 * p * (1.0 - p), 6) AS gini_root,
               round(wsum / n, 6) AS gini_weighted,
               round(2.0 * p * (1.0 - p) - wsum / n, 6) AS gini_decrease
        FROM root, child
    """


def _srm_check_sql() -> str:
    from deusu_spark.pipelines import SRM_CHI2_CRIT

    chi2 = (
        "((n_a - nn / 2.0) * (n_a - nn / 2.0) / (nn / 2.0)"
        " + (n_b - nn / 2.0) * (n_b - nn / 2.0) / (nn / 2.0))"
    )
    return f"""
        WITH arms AS (SELECT CAST(user_id % 2 AS INTEGER) AS arm,
                             count(*) AS n
                      FROM (SELECT DISTINCT user_id FROM events)
                      GROUP BY 1),
             st AS (SELECT sum(n) AS nn,
                           coalesce(sum(CASE WHEN arm = 0 THEN n END), 0)
                               AS n_a,
                           coalesce(sum(CASE WHEN arm = 1 THEN n END), 0)
                               AS n_b
                    FROM arms)
        SELECT CAST(nn AS BIGINT) AS n_users,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               round({chi2}, 6) AS chi2,
               CASE WHEN {chi2} > {SRM_CHI2_CRIT!r}
                    THEN 1 ELSE 0 END AS srm_flag
        FROM st
    """


def _phrase_positions_sql() -> str:
    from deusu_spark.pipelines import PHRASE_POS

    parts = []
    for pi, (term, off) in enumerate(PHRASE_POS):
        parts.append(
            f"p{pi} AS (SELECT doc_id, p - {off} AS start "
            f"FROM tok WHERE t = '{term}')"
        )
    joins = " ".join(
        f"JOIN p{pi} USING (doc_id, start)"
        for pi in range(1, len(PHRASE_POS))
    )
    return f"""
        WITH a AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(lower(text),
                              '[^a-z0-9]+'), x -> x <> '') AS a
                   FROM documents),
             tok AS (SELECT doc_id, i - 1 AS p, a[i] AS t
                     FROM (SELECT doc_id, a,
                                  unnest(range(1, len(a) + 1)) AS i
                           FROM a)),
             {", ".join(parts)}
        SELECT doc_id, count(*) AS n_matches,
               CAST(min(start) AS BIGINT) AS first_pos
        FROM p0 {joins}
        GROUP BY doc_id ORDER BY doc_id
    """


def _near_positions_sql() -> str:
    from deusu_spark.pipelines import NEAR_POS, NEAR_WINDOW

    return f"""
        WITH a AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(lower(text),
                              '[^a-z0-9]+'), x -> x <> '') AS a
                   FROM documents),
             tok AS (SELECT doc_id, i - 1 AS p, a[i] AS t
                     FROM (SELECT doc_id, a,
                                  unnest(range(1, len(a) + 1)) AS i
                           FROM a)),
             t0 AS (SELECT doc_id, p AS p0 FROM tok
                    WHERE t = '{NEAR_POS[0]}'),
             t1 AS (SELECT doc_id, p AS p1 FROM tok
                    WHERE t = '{NEAR_POS[1]}'),
             spans AS (SELECT doc_id,
                              CAST(abs(p0 - p1) AS BIGINT) AS span
                       FROM t0 JOIN t1 USING (doc_id)
                       WHERE abs(p0 - p1) < {NEAR_WINDOW})
        SELECT doc_id, count(*) AS n_pairs, min(span) AS min_span
        FROM spans GROUP BY doc_id ORDER BY doc_id
    """


def _proximity_rank_sql() -> str:
    from deusu_spark.pipelines import NEAR_POS
    from deusu_spark.positions import PROXIMITY_SCALE

    return f"""
        WITH a AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(lower(text),
                              '[^a-z0-9]+'), x -> x <> '') AS a
                   FROM documents),
             tok AS (SELECT doc_id, i - 1 AS p, a[i] AS t
                     FROM (SELECT doc_id, a,
                                  unnest(range(1, len(a) + 1)) AS i
                           FROM a)),
             t0 AS (SELECT doc_id, p AS p0 FROM tok
                    WHERE t = '{NEAR_POS[0]}'),
             t1 AS (SELECT doc_id, p AS p1 FROM tok
                    WHERE t = '{NEAR_POS[1]}'),
             spans AS (SELECT doc_id,
                              CAST(min(abs(p0 - p1)) AS BIGINT) AS min_dist
                       FROM t0 JOIN t1 USING (doc_id) GROUP BY doc_id),
             c0 AS (SELECT doc_id, count(*) AS n0 FROM t0 GROUP BY doc_id),
             c1 AS (SELECT doc_id, count(*) AS n1 FROM t1 GROUP BY doc_id)
        SELECT s.doc_id, c0.n0, c1.n1, s.min_dist,
               CAST({PROXIMITY_SCALE} // s.min_dist AS BIGINT) AS boost,
               CAST((c0.n0 + c1.n1) * 100
                    + {PROXIMITY_SCALE} // s.min_dist AS BIGINT)
                   AS rank_score
        FROM spans s JOIN c0 USING (doc_id) JOIN c1 USING (doc_id)
        ORDER BY rank_score DESC, doc_id
    """


def oracle_sql() -> dict[str, str]:
    return {
        "simhash": _simhash_sql(),
        "heavy_hitters": _heavy_hitters_sql(),
        "weighted_sample": _weighted_sample_sql(),
        "mad_outliers": _mad_outliers_sql(),
        "minhash_lsh16": _minhash_lsh16_sql(),
        "bloom_dedup_new": r"""
            WITH f AS (
                SELECT doc_id,
                       md5(array_to_string(list_slice(
                           list_filter(regexp_split_to_array(lower(text),
                               '[^a-z0-9]+'), z -> z <> ''), 1, 8), ' '))
                           AS fp
                FROM documents)
            SELECT doc_id, fp FROM f
            WHERE doc_id % 5 <> 0
              AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 5 = 0)
            ORDER BY doc_id
        """,
        "quantile_bisect": """
            SELECT count(*) AS n_rows,
                   round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
            FROM lineitem
        """,
        "knn_join": """
            WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
                       FROM embeddings WHERE vec_id % 25 = 0),
                 r AS (SELECT vec_id AS rid, embedding::DOUBLE[] AS re
                       FROM embeddings WHERE vec_id % 25 <> 0),
                 s AS (SELECT qid, rid,
                              round(list_dot_product(qe, re)
                                    / (sqrt(list_dot_product(qe, qe))
                                       * sqrt(list_dot_product(re, re))),
                                    4) AS cos_sim
                       FROM q CROSS JOIN r)
            SELECT qid, rid, cos_sim FROM s
            QUALIFY row_number()
                OVER (PARTITION BY qid ORDER BY cos_sim DESC, rid) = 1
            ORDER BY qid
        """,
        "hll_distinct": _HLL_SQL,
        "domain_mixture": _MIXTURE_SQL,
        "triangle_count": _TRIANGLE_SQL,
        "funnel_steps": _FUNNEL_SQL,
        "spell_correct": _SPELL_SQL,
        "negative_sampling": _NEGSAMP_SQL,
        "moving_average": _MOVAVG_SQL,
        "retention_cohorts": """
            WITH ev AS (
                SELECT user_id, event_type,
                       CAST(date_trunc('week', ts) AS DATE) AS wk
                FROM events),
            first AS (
                SELECT user_id, min(wk) AS cohort_week
                FROM ev WHERE event_type = 'signup' GROUP BY user_id),
            active AS (SELECT DISTINCT user_id, wk FROM ev)
            SELECT cohort_week,
                   CAST(datediff('day', cohort_week, wk) / 7 AS INTEGER)
                       AS weeks_since,
                   count(DISTINCT active.user_id) AS n_users
            FROM active JOIN first USING (user_id)
            GROUP BY 1, 2
            ORDER BY cohort_week, weeks_since
        """,
        "last_touch_attribution": """
            WITH stream AS (
                SELECT user_id, ts AS ets, 0 AS is_purchase,
                       event_type AS touch_type, ts AS touch_ts,
                       CAST(NULL AS DOUBLE) AS value
                FROM events WHERE event_type IN ('view', 'click')
                UNION ALL
                SELECT user_id, ts, 1, NULL, NULL, value
                FROM events WHERE event_type = 'purchase'),
            carried AS (
                SELECT user_id, ets, is_purchase, value,
                       last_value(touch_type IGNORE NULLS) OVER w AS lt_type,
                       last_value(touch_ts IGNORE NULLS) OVER w AS lt_ts
                FROM stream
                WINDOW w AS (
                    PARTITION BY user_id
                    ORDER BY ets, is_purchase, touch_type
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            credited AS (
                SELECT CASE WHEN lt_ts IS NOT NULL
                                 AND epoch(ets) - epoch(lt_ts) <= 3600
                            THEN lt_type ELSE 'direct' END AS channel,
                       value
                FROM carried WHERE is_purchase = 1)
            SELECT channel, count(*) AS n_purchases,
                   round(sum(value), 4) AS revenue
            FROM credited GROUP BY channel ORDER BY channel
        """,
        "json_props_stats": """
            WITH x AS (
                SELECT event_type,
                       CAST(props->>'$.k' AS INTEGER) AS k
                FROM events)
            SELECT event_type,
                   CAST(CASE WHEN k IS NULL THEN -1
                             ELSE floor(k / 10.0) END AS INTEGER) AS k_decile,
                   count(*) AS n,
                   sum(k) AS sum_k,
                   min(k) AS min_k,
                   max(k) AS max_k,
                   count(DISTINCT k) AS distinct_k
            FROM x
            GROUP BY 1, 2
            ORDER BY event_type, k_decile
        """,
        "tfidf_cosine_pairs": _tfidf_cosine_sql(),
        "full_outer_daily": """
            WITH e AS (
                SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                       count(*) AS n_err
                FROM events WHERE event_type = 'error' GROUP BY 1, 2),
            p AS (
                SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                       count(*) AS n_pur
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
            SELECT user_id, day,
                   coalesce(n_err, 0) AS n_err,
                   coalesce(n_pur, 0) AS n_pur
            FROM e FULL OUTER JOIN p USING (user_id, day)
            ORDER BY user_id, day
        """,
        # bigram events via 1-based list indexing over generate_series;
        # probabilities all over the bigram-event space N, mirroring the
        # Spark op exactly (ln over identical integer ratios, round 5)
        "pmi_bigrams": f"""
            WITH arr AS (
                SELECT list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), x -> x <> '') AS a
                FROM documents),
            idx AS (
                SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
                FROM arr WHERE len(a) >= 2),
            big AS (SELECT a[i] AS w1, a[i + 1] AS w2 FROM idx),
            nn AS (SELECT count(*) AS n FROM big),
            cab AS (SELECT w1, w2, count(*) AS c_ab FROM big GROUP BY 1, 2),
            cl AS (SELECT w1, count(*) AS c_l FROM big GROUP BY 1),
            cr AS (SELECT w2, count(*) AS c_r FROM big GROUP BY 1)
            SELECT cab.w1, cab.w2, cab.c_ab,
                   round(ln(CAST((SELECT n FROM nn) AS DOUBLE) * cab.c_ab
                            / (cl.c_l * cr.c_r)), 5) AS pmi
            FROM cab JOIN cl USING (w1) JOIN cr USING (w2)
            WHERE cab.c_ab >= {pipelines.PMI_MIN_COUNT}
            ORDER BY cab.w1, cab.w2
        """,
        # INTERSECT binds tighter than EXCEPT (standard precedence, both
        # engines), matching the Spark chain (view ∩ purchase) − error
        "set_ops_users": """
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events WHERE event_type = 'view'
            INTERSECT
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events WHERE event_type = 'purchase'
            EXCEPT
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events WHERE event_type = 'error'
            ORDER BY user_id, day
        """,
        # dense hour grid = generate_series(min_hour, max_hour) × types;
        # carry-forward = IGNORE NULLS last_value over the hour-ordered
        # window, exactly mirroring the Spark last(ignorenulls) op
        "events_gapfill": """
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       count(*) AS cnt, round(sum(value), 4) AS val
                FROM events GROUP BY 1, 2),
            b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                         date_trunc('hour', max(ts)) AS hi FROM events),
            grid AS (
                SELECT unnest(generate_series(
                    (SELECT lo FROM b), (SELECT hi FROM b),
                    INTERVAL 1 HOUR)) AS hour),
            dense AS (
                SELECT t.event_type, g.hour
                FROM grid g CROSS JOIN (SELECT DISTINCT event_type
                                        FROM events) t)
            SELECT d.event_type, d.hour,
                   coalesce(h.cnt, 0) AS cnt,
                   round(coalesce(last_value(h.val IGNORE NULLS) OVER (
                       PARTITION BY d.event_type ORDER BY d.hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       0.0), 4) AS carried_val
            FROM dense d LEFT JOIN hourly h
                 ON d.event_type = h.event_type AND d.hour = h.hour
            ORDER BY d.event_type, d.hour
        """,
        "simhash_near_dup_pairs": _simhash_near_dup_sql(),
        "ann_lsh_candidates": _ann_lsh_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "chunk_windows": _chunk_windows_sql(),
        "train_val_split": _train_val_split_sql(),
        "pack_sequences": _pack_sequences_sql(),
        "decontaminate": _decontaminate_sql(),
        "repetition_signals": _repetition_signals_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "corpus_shuffle": _corpus_shuffle_sql(),
        "pii_redact": _pii_redact_sql(),
        "unigram_logprob": _unigram_logprob_sql(),
        "dsir_weights": _dsir_sql(),
        "semdedup": _semdedup_sql(),
        "bucket_checksum": _bucket_checksum_sql(),
        "grouping_sets_revenue": """
            SELECT l_returnflag, l_linestatus,
                   grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
            ORDER BY gid, l_returnflag, l_linestatus
        """,
        "token_entropy": f"""
            WITH tf AS (SELECT doc_id, t, count(*) AS c
                        FROM ({_TOKS}) WHERE doc_id < 200 GROUP BY 1, 2),
                 tot AS (SELECT doc_id, sum(c) AS n, count(*) AS nd
                         FROM tf GROUP BY 1)
            SELECT tf.doc_id,
                   max(n) AS n_tokens,
                   max(nd) AS n_distinct,
                   round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 5) AS entropy
            FROM tf JOIN tot ON tf.doc_id = tot.doc_id
            GROUP BY 1 ORDER BY 1
        """,
        "containment_pairs": _containment_pairs_sql(),
        "zorder_layout": _zorder_layout_sql(),
        "bootstrap_ci": _bootstrap_ci_sql(),
        "countmin_freq": _countmin_sql(),
        "ewma_hourly": _ewma_sql(),
        "percentile_bands": """
            SELECT o_orderpriority, n,
                   round(q[1], 6) AS p25, round(q[2], 6) AS p50,
                   round(q[3], 6) AS p90, round(q[4], 6) AS p99
            FROM (SELECT o_orderpriority, count(*) AS n,
                         quantile_cont(o_totalprice,
                                       [0.25, 0.5, 0.9, 0.99]) AS q
                  FROM orders GROUP BY 1)
            ORDER BY o_orderpriority
        """,
        "skew_profile": _skew_profile_sql(),
        "bigram_condprob": _bigram_condprob_sql(),
        "sliding_distinct": _sliding_distinct_sql(),
        "histogram_quantile": _histogram_quantile_sql(),
        "hybrid_rrf": _hybrid_rrf_sql(),
        "seasonal_decompose": _SEASONAL_SQL,
        "ann_pq_topk": _ann_pq_sql(),
        "event_dedup_window": _event_dedup_sql(),
        "event_trigrams": _event_trigrams_sql(),
        "abc_classification": _ABC_SQL,
        "khop_reachability": _khop_sql(),
        "ab_test": _ab_test_sql(),
        "regression_trend": """
            WITH b AS (
                SELECT event_type,
                       (floor(epoch(ts))
                        - (SELECT min(floor(epoch(ts))) FROM events))
                       / 3600.0 AS x,
                       value AS y
                FROM events
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(regr_slope(y, x), 9) AS slope,
                   round(regr_intercept(y, x), 9) AS intercept,
                   round(regr_r2(y, x), 9) AS r2
            FROM b GROUP BY 1 ORDER BY 1
        """,
        "kmv_set_ops": _kmv_set_ops_sql(),
        "snapshot_diff": """
            WITH b AS (
                SELECT o_orderkey, o_custkey,
                       CASE WHEN o_custkey % 10 = 0 THEN o_totalprice * 1.1
                            ELSE o_totalprice END AS o_totalprice
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT o_orderkey + 10000000, o_custkey, o_totalprice
                FROM orders WHERE o_orderkey % 89 = 1
            ),
            j AS (
                SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                       a.o_totalprice AS old_totalprice,
                       b.o_totalprice AS new_totalprice
                FROM orders a FULL OUTER JOIN b
                  ON a.o_orderkey = b.o_orderkey
            )
            SELECT o_orderkey,
                   CASE WHEN old_totalprice IS NULL THEN 'insert'
                        WHEN new_totalprice IS NULL THEN 'delete'
                        WHEN new_totalprice <> old_totalprice THEN 'update'
                        ELSE 'unchanged' END AS change_type,
                   old_totalprice, new_totalprice
            FROM j
            WHERE NOT (old_totalprice IS NOT NULL
                       AND new_totalprice IS NOT NULL
                       AND new_totalprice = old_totalprice)
            ORDER BY o_orderkey
        """,
        "merge_upsert": """
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_custkey % 10 = 0 THEN o_totalprice * 1.1
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_custkey, o_totalprice
            FROM orders WHERE o_orderkey % 89 = 1
            ORDER BY o_orderkey
        """,
        "event_seq_match": """
            SELECT user_id, n_matches FROM (
                SELECT user_id,
                       CAST(len(regexp_extract_all(s, 'vc+p')) AS BIGINT)
                           AS n_matches
                FROM (
                    SELECT user_id,
                           string_agg(substr(event_type, 1, 1), ''
                                      ORDER BY ts, event_id) AS s
                    FROM events GROUP BY user_id
                )
            ) WHERE n_matches > 0 ORDER BY user_id
        """,
        "market_basket": _market_basket_sql(),
        "spatial_join": _spatial_join_sql(),
        "scd2_intervals": """
            SELECT o_custkey, o_orderkey,
                   o_orderdate AS effective_from,
                   coalesce(
                       lead(o_orderdate) OVER w,
                       TIMESTAMP '9999-12-31 00:00:00'
                   ) AS effective_to,
                   lead(o_orderdate) OVER w IS NULL AS is_current,
                   row_number() OVER w AS version
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
            ORDER BY o_custkey, version
        """,
        "skyline_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
            FROM orders a
            WHERE NOT EXISTS (
                SELECT 1 FROM orders b
                WHERE b.o_totalprice <= a.o_totalprice
                  AND b.o_orderdate >= a.o_orderdate
                  AND (b.o_totalprice < a.o_totalprice
                       OR b.o_orderdate > a.o_orderdate)
            )
            ORDER BY o_orderkey
        """,
        "dq_expectations": """
            SELECT check_name, violations,
                   violations = 0 AS passed
            FROM (
                SELECT 'orders_pk_unique' AS check_name,
                       (SELECT count(*) - count(DISTINCT o_orderkey)
                        FROM orders) AS violations
                UNION ALL
                SELECT 'orders_custkey_fk',
                       (SELECT count(*) FROM orders
                        WHERE o_custkey NOT IN
                              (SELECT c_custkey FROM customer))
                UNION ALL
                SELECT 'lineitem_orderkey_fk',
                       (SELECT count(*) FROM lineitem
                        WHERE l_orderkey NOT IN
                              (SELECT o_orderkey FROM orders))
                UNION ALL
                SELECT 'orders_custkey_not_null',
                       (SELECT count(*) FROM orders
                        WHERE o_custkey IS NULL)
                UNION ALL
                SELECT 'o_totalprice_positive',
                       (SELECT count(*) FROM orders
                        WHERE o_totalprice <= 0)
                UNION ALL
                SELECT 'l_discount_in_unit_range',
                       (SELECT count(*) FROM lineitem
                        WHERE l_discount < 0 OR l_discount > 1)
                UNION ALL
                SELECT 'l_ships_after_order',
                       (SELECT count(*) FROM lineitem
                        JOIN orders ON l_orderkey = o_orderkey
                        WHERE l_shipdate < o_orderdate)
            )
            ORDER BY check_name
        """,
        "ccnet_buckets": _ccnet_buckets_sql(),
        "classifier_score": _classifier_score_sql(),
        "domain_divergence": _domain_divergence_sql(),
        "zipf_fit": _zipf_fit_sql(),
        "minhash_recall": _minhash_recall_sql(),
        "training_pipeline": _training_pipeline_sql(),
        "dup_spans": _dup_spans_sql(),
        "topk_ngrams": _topk_ngrams_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "bpe_encode": _bpe_encode_sql(),
        "winnow_candidates": f"""
            WITH sh AS ({_SHINGLES.format(maxdoc=300)}),
                 h AS (SELECT doc_id, md5(sh) AS h FROM sh),
                 r AS (SELECT doc_id, h,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY h) AS rn
                       FROM h),
                 sel AS (SELECT doc_id, h FROM r WHERE rn <= 4)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS INTEGER) AS n_shared
            FROM sel a JOIN sel b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
            ORDER BY doc_a, doc_b
        """,
        # quantile_cont == the histogram-interpolated percentile_cont the
        # Spark side computes from the cumulative (lang, n_tok) histogram
        "corpus_profile": """
            WITH x AS (SELECT lang,
                              len(list_filter(regexp_split_to_array(
                                  lower(text), '[^a-z0-9]+'),
                                  t -> t <> '')) AS n_tok,
                              n_chars
                       FROM documents WHERE doc_id < 500)
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_tok), 5) AS mean_tok,
                   round(quantile_cont(n_tok, 0.5), 5) AS p50_tok,
                   round(quantile_cont(n_tok, 0.9), 5) AS p90_tok,
                   round(quantile_cont(n_tok, 0.99), 5) AS p99_tok,
                   round(avg(n_chars), 5) AS mean_chars
            FROM x GROUP BY lang ORDER BY lang
        """,
        # the oracle uses DuckDB's NATIVE ASOF JOIN — the Spark composition
        # (union + carry-forward window) must reproduce it exactly
        "asof_join": """
            SELECT p.event_id AS purchase_id, p.user_id, p.ts,
                   v.event_id AS view_id, v.ts AS view_ts,
                   date_diff('second', v.ts, p.ts) AS gap_s
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON p.user_id = v.user_id AND p.ts >= v.ts
            ORDER BY purchase_id
        """,
        "range_join": f"""
            SELECT er.event_id AS error_id, p.event_id AS purchase_id,
                   er.user_id, date_diff('second', er.ts, p.ts) AS delay_s
            FROM events er JOIN events p
              ON er.user_id = p.user_id
             AND er.event_type = 'error' AND p.event_type = 'purchase'
             AND date_diff('second', er.ts, p.ts)
                 BETWEEN 0 AND {pipelines.RANGE_W_S}
            ORDER BY error_id, purchase_id
        """,
        # NULL group markers coalesced to '(all)' in BOTH engines; gid =
        # GROUPING bit vector (leftmost column = MSB, Postgres semantics
        # in Spark and DuckDB alike)
        "rollup_revenue": """
            SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
                   coalesce(l_returnflag, '(all)') AS l_returnflag,
                   coalesce(l_linestatus, '(all)') AS l_linestatus,
                   count(*) AS cnt,
                   round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY gid, l_returnflag, l_linestatus
        """,
        "cube_status_priority": """
            SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER)
                       AS gid,
                   coalesce(o_orderstatus, '(all)') AS o_orderstatus,
                   coalesce(o_orderpriority, '(all)') AS o_orderpriority,
                   count(*) AS cnt,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
            ORDER BY gid, o_orderstatus, o_orderpriority
        """,
        # pivot == conditional aggregation (count FILTER), its relational
        # identity
        "pivot_priority_status": """
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "latest_order_per_customer": """
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders)
            WHERE rn = 1 ORDER BY o_custkey
        """,
        # the oracle is the UNSALTED join — hash-identical output proves
        # the salted rewrite is semantics-preserving
        "salted_join_revenue": """
            SELECT s_nationkey, count(*) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey ORDER BY s_nationkey
        """,
        "pagerank": _pagerank_sql(),
        "phrase_match": _phrase_match_sql(),
        "lang_id": _lang_id_sql(),
        "quality_score": f"""
            WITH x AS (
                SELECT doc_id, text, a, len(a) AS n_tokens,
                       CAST(len(list_filter(a, t -> list_contains(
                            ['the','a','and','of','to','in','is','it'], t)))
                            AS DOUBLE) / len(a) AS stop_ratio,
                       (SELECT sum(length(t)) FROM (SELECT unnest(a) AS t))
                            * 1.0 / len(a) AS mean_tok_len,
                       CAST(length(regexp_replace(lower(text), '[a-z0-9 ]',
                            '', 'g')) AS DOUBLE) / length(text) AS punct_ratio
                FROM ({_ARR}) WHERE doc_id < 150)
            SELECT doc_id,
                   CAST(n_tokens AS INTEGER) AS n_tokens,
                   round(mean_tok_len, 5) AS mean_tok_len,
                   round(punct_ratio, 5) AS punct_ratio,
                   round(stop_ratio, 5) AS stop_ratio,
                   round(least(n_tokens / 100.0, 1.0) * 0.4
                         + CASE WHEN mean_tok_len BETWEEN 3 AND 10
                                THEN 0.3 ELSE 0.0 END
                         + CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END
                         + CASE WHEN stop_ratio > 0.01 AND stop_ratio < 0.6
                                THEN 0.1 ELSE 0.0 END, 5) AS quality
            FROM x ORDER BY doc_id
        """,
        "token_count_bpe": r"""
            SELECT doc_id,
                   CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                        x -> x <> '')) AS INTEGER) AS ws_tokens,
                   CAST(len(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS bpe_tokens
            FROM documents WHERE doc_id < 150 ORDER BY doc_id
        """,
        "winnow_fingerprint": f"""
            WITH sh AS ({_SHINGLES.format(maxdoc=150)}),
                 h AS (SELECT doc_id, md5(sh) AS h FROM sh),
                 r AS (SELECT doc_id, h,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY h) AS rn
                       FROM h)
            SELECT doc_id, string_agg(h, '|' ORDER BY h) AS fp
            FROM r WHERE rn <= 4 GROUP BY doc_id ORDER BY doc_id
        """,
        "embedding_near_dup_pairs": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id < 200),
                 nrm AS (SELECT vec_id, embedding,
                                sqrt((SELECT sum(CAST(x AS DOUBLE)
                                                 * CAST(x AS DOUBLE))
                                      FROM (SELECT unnest(embedding) AS x)))
                                    AS nn
                         FROM e),
                 p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                              (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                               FROM (SELECT unnest(a.embedding) AS x,
                                            unnest(b.embedding) AS y))
                              / (a.nn * b.nn) AS sim
                       FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id)
            SELECT vec_a, vec_b, round(sim, 4) AS cos_sim
            FROM p WHERE round(sim, 4) >= 0.3 ORDER BY vec_a, vec_b
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "region_revenue": """
            SELECT r_name, round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "customers_without_orders": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "brands_shipped": """
            SELECT p_brand, count(*) AS n_parts
            FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
            GROUP BY p_brand ORDER BY p_brand
        """,
        "top3_orders_per_customer": """
            SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders WHERE o_custkey < 100)
            WHERE rn <= 3 ORDER BY o_custkey, rn
        """,
        "filter_topk": """
            SELECT l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem
            WHERE l_discount > 0.05 AND l_quantity >= 30
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
            LIMIT 50
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 200
        """,
        "user_sessions": """
            WITH x AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
                FROM events WHERE user_id < 20)
            SELECT user_id,
                   CAST(sum(CASE WHEN prev IS NULL
                                 OR date_diff('second', prev, ts) > 1800
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM x GROUP BY user_id ORDER BY user_id
        """,
        "distinct_priorities": """
            SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
        """,
        "term_df": f"""
            SELECT t, count(*) AS df FROM ({_DTOKS})
            GROUP BY t ORDER BY df DESC, t LIMIT 30
        """,
        "term_idf": f"""
            SELECT t, df, round(log10(11.0 +
                   ((SELECT count(*) FROM documents) + df + 0.5) / (df + 0.5)),
                   6) AS idf
            FROM (SELECT t, count(*) AS df FROM ({_DTOKS}) GROUP BY t)
            ORDER BY df DESC, t LIMIT 30
        """,
        "postings_sample": f"""
            SELECT doc_id, t FROM ({_DTOKS})
            WHERE t IN ('spark', 'vector', 'stream')
            ORDER BY t, doc_id
        """,
        "bool_and": f"""
            SELECT doc_id FROM ({_DTOKS})
            WHERE t IN ('spark', 'join')
            GROUP BY doc_id HAVING count(*) = 2 ORDER BY doc_id
        """,
        "bool_not": f"""
            WITH toks AS ({_DTOKS})
            SELECT doc_id FROM toks WHERE t = 'spark'
              AND doc_id NOT IN (SELECT doc_id FROM toks WHERE t = 'vector')
            ORDER BY doc_id
        """,
        "bm25_topk": f"""
            WITH tok AS ({_TOKS}),
                 dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
                 ad AS (SELECT avg(dl) AS avgdl FROM dl),
                 qt AS (SELECT DISTINCT doc_id, t FROM tok
                        WHERE t IN ('spark', 'join')),
                 dfs AS (SELECT t, count(*) AS df FROM qt GROUP BY t),
                 nn AS (SELECT count(*) AS n FROM documents)
            SELECT doc_id,
                   round(sum(ln(1.0 + (nn.n - dfs.df + 0.5) / (dfs.df + 0.5))
                         * (1.2 + 1.0) * 1.0
                         / (1.0 + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl))),
                         5) AS score
            FROM qt JOIN dfs USING (t) JOIN dl USING (doc_id), nn, ad
            GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
        """,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
            FROM documents WHERE doc_id < 50 ORDER BY doc_id
        """,
        "dedup_exact": r"""
            SELECT fp, count(*) AS cnt FROM (
                SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
                FROM documents)
            GROUP BY fp HAVING count(*) > 1 ORDER BY fp
        """,
        "ngram_jaccard_pairs": f"""
            WITH sh AS ({_SHINGLES.format(maxdoc=200)}),
                 sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
                 inter AS (
                     SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            count(*) AS inter
                     FROM sh a JOIN sh b
                       ON a.sh = b.sh AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(inter / (sa.sz + sb.sz - inter), 5) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.4
            ORDER BY doc_a, doc_b
        """,
        "setsim_prefix_pairs": f"""
            WITH sh AS ({_SHINGLES.format(maxdoc=2**62)}),
                 sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
                 inter AS (
                     SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            count(*) AS inter
                     FROM sh a JOIN sh b
                       ON a.sh = b.sh AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(inter / (sa.sz + sb.sz - inter), 5) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.4
            ORDER BY doc_a, doc_b
        """,
        "minhash_band_candidates": f"""
            WITH {_MINHASH_PAIR_CTES}
            SELECT doc_a, doc_b FROM pairs
            ORDER BY doc_a, doc_b
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_MINHASH_PAIR_CTES},
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b, doc_a FROM pairs),
                 reach(src, dst) AS (
                     SELECT src, src FROM edges
                     UNION
                     SELECT r.src, e.dst
                     FROM reach r JOIN edges e ON r.dst = e.src)
            SELECT src AS doc_id, min(dst) AS cluster_id
            FROM reach GROUP BY src ORDER BY doc_id
        """,
        "dedup_filtered_corpus": f"""
            WITH RECURSIVE {_MINHASH_PAIR_CTES},
                 edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                           UNION
                           SELECT doc_b, doc_a FROM pairs),
                 reach(src, dst) AS (
                     SELECT src, src FROM edges
                     UNION
                     SELECT r.src, e.dst
                     FROM reach r JOIN edges e ON r.dst = e.src),
                 labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
                            FROM reach GROUP BY src)
            SELECT d.doc_id,
                   CASE WHEN l.doc_id IS NULL THEN 'unique'
                        ELSE 'representative' END AS kept_as
            FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
            WHERE d.doc_id < 300
              AND (l.cluster_id IS NULL OR l.cluster_id = d.doc_id)
            ORDER BY d.doc_id
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(len(a) AS INTEGER) AS n_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars_actual,
                   round(CAST(len(list_filter(a, x -> list_contains(
                         ['the','a','and','of','to','in','is','it'], x)))
                         AS DOUBLE) / len(a), 5) AS stop_ratio
            FROM ({_ARR}) WHERE doc_id < 100 ORDER BY doc_id
        """,
        "lang_stats": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 2) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "embedding_cosine_topk": _BRUTE_COS_SQL,
        "peak_concurrency": """
            WITH iv AS (SELECT event_type, epoch_us(ts) AS s,
                               epoch_us(ts)
                               + CAST(floor(value) AS BIGINT) * 1000000 AS e
                        FROM events),
                 b AS (SELECT event_type, s AS t, 1 AS d FROM iv
                       UNION ALL
                       SELECT event_type, e AS t, -1 AS d FROM iv),
                 c AS (SELECT event_type,
                              sum(d) OVER (PARTITION BY event_type
                                           ORDER BY t, d
                                           ROWS UNBOUNDED PRECEDING) AS conc
                       FROM b)
            SELECT event_type,
                   CAST(count(*) / 2 AS BIGINT) AS n_events,
                   CAST(max(conc) AS BIGINT) AS peak_concurrency
            FROM c GROUP BY 1 ORDER BY 1
        """,
        "fuzzy_match_parts": _fuzzy_match_sql(),
        "dp_noisy_counts": _dp_noisy_sql(),
        "gopher_rules": _gopher_rules_sql(),
        "rfm_segments": """
            WITH ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
                 pc AS (SELECT o_custkey AS custkey,
                               date_diff('day', max(o_orderdate),
                                         (SELECT ref_date FROM ref))
                                   AS recency_days,
                               count(*) AS frequency,
                               round(sum(o_totalprice), 2) AS monetary
                        FROM orders GROUP BY 1),
                 s AS (SELECT *,
                              ntile(5) OVER (ORDER BY recency_days DESC,
                                             custkey) AS r_q,
                              ntile(5) OVER (ORDER BY frequency, custkey)
                                  AS f_q,
                              ntile(5) OVER (ORDER BY monetary, custkey)
                                  AS m_q
                       FROM pc)
            SELECT custkey, recency_days, frequency, monetary, r_q, f_q, m_q,
                   CASE WHEN r_q >= 4 AND f_q >= 4 AND m_q >= 4
                            THEN 'champion'
                        WHEN r_q <= 2 AND f_q >= 3 THEN 'at_risk'
                        WHEN r_q >= 4 AND f_q <= 2 THEN 'recent'
                        ELSE 'regular' END AS segment
            FROM s ORDER BY custkey
        """,
        "gini_by_nation": """
            WITH spend AS (SELECT n.n_name, o.o_custkey AS custkey,
                                  round(sum(o_totalprice), 2) AS x
                           FROM orders o
                           JOIN customer c ON o.o_custkey = c.c_custkey
                           JOIN nation n ON c.c_nationkey = n.n_nationkey
                           GROUP BY 1, 2),
                 r AS (SELECT *,
                              row_number() OVER (PARTITION BY n_name
                                                 ORDER BY x, custkey) AS i
                       FROM spend)
            SELECT n_name, count(*) AS n_customers,
                   round(sum(x), 2) AS total_spend,
                   round(2.0 * sum(i * x) / (count(*) * sum(x))
                         - (count(*) + 1.0) / count(*), 6) AS gini
            FROM r GROUP BY 1 ORDER BY 1
        """,
        "burst_zscore": f"""
            WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                              count(*) AS cnt
                       FROM events GROUP BY 1, 2),
                 s AS (SELECT *,
                              avg(cnt) OVER (PARTITION BY event_type) AS mu,
                              stddev_pop(cnt)
                                  OVER (PARTITION BY event_type) AS sigma
                       FROM h)
            SELECT event_type, hour, cnt, round(mu, 6) AS mu,
                   round((cnt - mu) / sigma, 6) AS z
            FROM s
            WHERE sigma > 0
              AND abs(round((cnt - mu) / sigma, 6)) >= {pipelines.BURST_Z}
            ORDER BY event_type, hour
        """,
        "cdc_chunks": _cdc_chunks_sql(),
        "prf_expansion": _prf_expansion_sql(),
        "bigram_perplexity": _bigram_perplexity_sql(),
        "ndcg_eval": _ndcg_eval_sql(),
        "cooccur_similarity": """
            WITH du AS (SELECT DISTINCT user_id, event_type FROM events),
                 sz AS (SELECT event_type, count(*) AS n_users
                        FROM du GROUP BY 1),
                 inter AS (SELECT a.event_type AS type_a,
                                  b.event_type AS type_b,
                                  count(*) AS inter
                           FROM du a JOIN du b
                             ON a.user_id = b.user_id
                            AND a.event_type < b.event_type
                           GROUP BY 1, 2)
            SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b,
                   inter, round(inter / sqrt(sa.n_users * sb.n_users), 6)
                              AS cosine
            FROM inter
            JOIN sz sa ON sa.event_type = type_a
            JOIN sz sb ON sb.event_type = type_b
            ORDER BY type_a, type_b
        """,
        "cusum_changepoint": """
            WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
                           FROM events GROUP BY 1),
                 mu AS (SELECT avg(cnt) AS mu FROM daily),
                 cus AS (SELECT day,
                                sum(cnt - (SELECT mu FROM mu))
                                    OVER (ORDER BY day) AS cusum
                         FROM daily),
                 cp AS (SELECT day AS cp_day, round(cusum, 6) AS cusum
                        FROM cus
                        ORDER BY abs(round(cusum, 6)) DESC, day LIMIT 1)
            SELECT cp_day, cusum,
                   round(avg(cnt) FILTER (day <= cp_day), 6) AS mean_before,
                   round(avg(cnt) FILTER (day > cp_day), 6) AS mean_after
            FROM daily, cp GROUP BY 1, 2
        """,
        "centroid_assign": """
            WITH longv AS (SELECT vec_id, label, i - 1 AS idx,
                                  CAST(embedding[i] AS DOUBLE) AS val
                           FROM (SELECT vec_id, label, embedding,
                                        unnest(range(1, len(embedding) + 1))
                                            AS i
                                 FROM embeddings)),
                 cents AS (SELECT label AS clabel, idx, avg(val) AS cval
                           FROM longv GROUP BY 1, 2),
                 d2 AS (SELECT vec_id, label, clabel,
                               sum((val - cval) * (val - cval)) AS d2
                        FROM longv JOIN cents USING (idx)
                        GROUP BY 1, 2, 3),
                 asg AS (SELECT vec_id, label, clabel AS assigned,
                                row_number() OVER (PARTITION BY vec_id
                                                   ORDER BY round(d2, 9),
                                                            clabel) AS rn
                         FROM d2)
            SELECT label, count(*) AS n,
                   CAST(sum(CASE WHEN assigned = label THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct,
                   round(avg(CASE WHEN assigned = label
                             THEN 1.0 ELSE 0.0 END), 6) AS accuracy
            FROM asg WHERE rn = 1 GROUP BY label ORDER BY label
        """,
        "kaplan_meier": _kaplan_meier_sql(),
        "brier_calibration": _brier_calibration_sql(),
        "roc_auc": _roc_auc_sql(),
        "psi_drift": _psi_drift_sql(),
        "cohens_kappa": _cohens_kappa_sql(),
        "elbow_curve": _elbow_curve_sql(),
        "ks_test": _ks_test_sql(),
        "chi2_independence": _chi2_independence_sql(),
        "spearman_corr": _spearman_corr_sql(),
        "acf_daily": _acf_daily_sql(),
        "seasonal_naive_backtest": _seasonal_naive_backtest_sql(),
        "degree_assortativity": _degree_assortativity_sql(),
        "cond_entropy": _cond_entropy_sql(),
        "ltv_curve": _ltv_curve_sql(),
        "position_attribution": _position_attribution_sql(),
        "quota_allocation": _quota_allocation_sql(),
        "trimmed_mean": _trimmed_mean_sql(),
        "min_span": _min_span_sql(),
        "snippet_window": _snippet_window_sql(),
        "bm25f_topk": _bm25f_topk_sql(),
        "robust_trend": _robust_trend_sql(),
        "interarrival_fit": _interarrival_fit_sql(),
        "mutual_nn": _mutual_nn_sql(),
        "lang_confusion": _lang_confusion_sql(),
        "ann_recall_at_k": _ann_recall_sql(),
        "weighted_median": _weighted_median_sql(),
        "user_entropy": """
            WITH cnt AS (SELECT user_id, event_type, count(*) AS c
                         FROM events GROUP BY 1, 2)
            SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
                   count(*) AS n_types,
                   round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6)
                       AS entropy_bits
            FROM cnt GROUP BY user_id ORDER BY user_id
        """,
        "wow_growth": """
            WITH weekly AS (SELECT event_type,
                                   CAST(date_trunc('week', ts) AS DATE)
                                       AS wk,
                                   count(*) AS cnt
                            FROM events GROUP BY 1, 2)
            SELECT event_type, wk, cnt,
                   round((cnt - lag(cnt) OVER (PARTITION BY event_type
                                               ORDER BY wk))
                         * 1.0 / lag(cnt) OVER (PARTITION BY event_type
                                                ORDER BY wk), 6)
                       AS wow_growth
            FROM weekly ORDER BY event_type, wk
        """,
        "capture_recapture": """
            WITH a AS (SELECT DISTINCT user_id FROM events
                       WHERE event_type = 'view'),
                 b AS (SELECT DISTINCT user_id FROM events
                       WHERE event_type = 'click'),
                 m AS (SELECT count(*) AS m FROM a JOIN b USING (user_id))
            SELECT (SELECT count(*) FROM a) AS n1,
                   (SELECT count(*) FROM b) AS n2,
                   (SELECT m FROM m) AS m,
                   round((SELECT count(*) FROM a)
                         * (SELECT count(*) FROM b) * 1.0
                         / (SELECT m FROM m), 4) AS n_estimate
        """,
        "overdispersion": """
            WITH per AS (SELECT user_id, count(*) AS c
                         FROM events GROUP BY 1)
            SELECT count(*) AS n_users, round(avg(c), 6) AS mean,
                   round(var_pop(c), 6) AS var_pop,
                   round(var_pop(c) / avg(c), 6) AS dispersion
            FROM per
        """,
        "moment_stats": """
            WITH mu AS (SELECT avg(n_chars) AS mu FROM documents),
                 c AS (SELECT n_chars - (SELECT mu FROM mu) AS dx
                       FROM documents),
                 agg AS (SELECT count(*) AS n, avg(dx * dx) AS m2,
                                avg(dx * dx * dx) AS m3,
                                avg(dx * dx * dx * dx) AS m4
                         FROM c)
            SELECT n, round((SELECT mu FROM mu), 4) AS mean,
                   round(sqrt(m2), 4) AS stddev_pop,
                   round(m3 / pow(m2, 1.5), 6) AS skewness,
                   round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
            FROM agg
        """,
        "canonical_selection": r"""
            WITH base AS (SELECT doc_id, text, n_chars FROM documents
                          WHERE doc_id < 300
                          UNION ALL
                          SELECT doc_id + 10000, substr(text, 1, 150),
                                 length(substr(text, 1, 150))
                          FROM documents
                          WHERE doc_id < 200 AND doc_id % 7 = 0),
                 sized AS (SELECT doc_id, n_chars,
                                  md5(substr(lower(trim(regexp_replace(text,
                                      '\s+', ' ', 'g'))), 1, 120)) AS fp
                           FROM base),
                 dups AS (SELECT *, count(*) OVER (PARTITION BY fp)
                                        AS n_members
                          FROM sized),
                 pick AS (SELECT fp, n_members, doc_id, n_chars,
                                 row_number() OVER (PARTITION BY fp
                                     ORDER BY n_chars DESC, doc_id) AS rn
                          FROM dups WHERE n_members > 1)
            SELECT fp, n_members, doc_id AS kept_doc,
                   n_chars AS kept_n_chars
            FROM pick WHERE rn = 1 ORDER BY fp
        """,
        "quota_sample": _quota_sample_sql(),
        "hash_uniformity": _hash_uniformity_sql(),
        "longest_streak": """
            WITH isl AS (SELECT user_id, event_type,
                                row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                                - row_number() OVER (PARTITION BY user_id,
                                                         event_type
                                                     ORDER BY ts, event_id)
                                    AS grp
                         FROM events),
                 runs AS (SELECT user_id, event_type, grp,
                                 count(*) AS len
                          FROM isl GROUP BY 1, 2, 3),
                 pick AS (SELECT user_id, event_type, len,
                                 row_number() OVER (PARTITION BY user_id
                                     ORDER BY len DESC, event_type) AS rn
                          FROM runs)
            SELECT user_id, event_type AS streak_type, len AS streak_len
            FROM pick WHERE rn = 1 ORDER BY user_id
        """,
        "behavior_linkage": _behavior_linkage_sql(),
        "chunk_savings": _chunk_savings_sql(),
        "kendall_tau": """
            WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                                  count(*) AS x,
                                  round(sum(value), 6) AS y
                           FROM events GROUP BY 1),
                 pairs AS (SELECT
                     CASE WHEN (b.x - a.x) > 0 AND (b.y - a.y) > 0
                            OR (b.x - a.x) < 0 AND (b.y - a.y) < 0
                          THEN 1 ELSE 0 END AS c,
                     CASE WHEN (b.x - a.x) > 0 AND (b.y - a.y) < 0
                            OR (b.x - a.x) < 0 AND (b.y - a.y) > 0
                          THEN 1 ELSE 0 END AS d,
                     CASE WHEN b.x = a.x AND b.y <> a.y
                          THEN 1 ELSE 0 END AS tx,
                     CASE WHEN b.y = a.y AND b.x <> a.x
                          THEN 1 ELSE 0 END AS ty
                     FROM daily a JOIN daily b ON a.day < b.day)
            SELECT sum(c) AS concordant, sum(d) AS discordant,
                   sum(tx) AS tied_x, sum(ty) AS tied_y,
                   round((sum(c) - sum(d))
                         / sqrt((sum(c) + sum(d) + sum(tx))
                                * (sum(c) + sum(d) + sum(ty))), 6)
                       AS tau_b
            FROM pairs
        """,
        "anova_f": """
            WITH g AS (SELECT o_orderpriority, count(*) AS n_g,
                              sum(o_totalprice) AS s_g,
                              sum(o_totalprice * o_totalprice) AS ss_g
                       FROM orders GROUP BY 1),
                 tot AS (SELECT count(*) AS k, sum(n_g) AS n,
                                sum(s_g) AS s, sum(ss_g) AS ss,
                                sum(s_g * s_g / n_g) AS sgn
                         FROM g)
            SELECT k AS k_groups, n,
                   k - 1 AS df_between, n - k AS df_within,
                   round(((sgn - s * s / n) / (k - 1))
                         / ((ss - sgn) / (n - k)), 6) AS f_stat,
                   round((sgn - s * s / n) / (ss - s * s / n), 6)
                       AS eta_sq
            FROM tot
        """,
        "welch_t": _welch_t_sql(),
        "link_prediction": _link_prediction_sql(),
        "query_likelihood": _query_likelihood_sql(),
        "rake_keywords": _rake_keywords_sql(),
        "holt_smoothing": _holt_smoothing_sql(),
        "dau_wau": _dau_wau_sql(),
        "agg_refresh": """
            SELECT event_type, count(*) AS n,
                   round(sum(value), 6) AS total,
                   round(sum(value) / count(*), 6) AS avg_value,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "label_propagation": _label_propagation_sql(),
        "audience_overlap": """
            WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
                 sizes AS (SELECT event_type, count(*) AS n
                           FROM ut GROUP BY 1),
                 pairs AS (SELECT a.event_type AS type_a,
                                  b.event_type AS type_b,
                                  count(*) AS n_both
                           FROM ut a JOIN ut b
                             ON a.user_id = b.user_id
                            AND a.event_type < b.event_type
                           GROUP BY 1, 2)
            SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
                   round(CAST(n_both AS DOUBLE)
                         / (sa.n + sb.n - n_both), 6) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.event_type = pairs.type_a
            JOIN sizes sb ON sb.event_type = pairs.type_b
            ORDER BY type_a, type_b
        """,
        "mmr_diversify": _mmr_diversify_sql(),
        "pca_power": _pca_power_sql(),
        "hits_scores": _hits_scores_sql(),
        "target_encoding": """
            WITH g AS (SELECT o_orderpriority,
                              sum(o_totalprice) AS s_g,
                              count(*) AS n_g
                       FROM orders GROUP BY 1),
                 loo AS (SELECT o.o_orderpriority,
                                (g.s_g - o.o_totalprice)
                                / (g.n_g - 1) AS loo
                         FROM orders o JOIN g USING (o_orderpriority))
            SELECT o_orderpriority, count(*) AS n,
                   round(avg(loo), 6) AS enc_mean,
                   round(sum(loo * loo) / count(*)
                         - avg(loo) * avg(loo), 6) AS enc_var,
                   round(min(loo), 6) AS enc_min,
                   round(max(loo), 6) AS enc_max
            FROM loo GROUP BY 1 ORDER BY 1
        """,
        "bellman_ford": _bellman_ford_sql(),
        "dbscan_grid": _dbscan_grid_sql(),
        "seq_pattern_pairs": """
            WITH g AS (SELECT user_id, event_type,
                              min(ts) AS mn, max(ts) AS mx
                       FROM events GROUP BY 1, 2),
                 total AS (SELECT count(DISTINCT user_id) AS t
                           FROM events)
            SELECT a.event_type AS first_type,
                   b.event_type AS then_type,
                   count(*) AS n_users,
                   round(CAST(count(*) AS DOUBLE)
                         / (SELECT t FROM total), 6) AS support
            FROM g a JOIN g b ON a.user_id = b.user_id
             AND a.event_type <> b.event_type AND a.mn < b.mx
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "time_to_convert": _time_to_convert_sql(),
        "decay_weighted": _decay_weighted_sql(),
        "ridge_regression": _ridge_regression_sql(),
        "nb_classifier": _nb_classifier_sql(),
        "logrank_test": _logrank_test_sql(),
        "lift_gains": _lift_gains_sql(),
        "kcore": _kcore_sql(),
        "closeness_harmonic": _closeness_harmonic_sql(),
        "consistent_hash_rebalance": _consistent_hash_sql(),
        "holt_winters": _holt_winters_sql(),
        "silhouette": _silhouette_sql(),
        "personalized_pagerank": _personalized_pagerank_sql(),
        "pr_curve": _pr_curve_sql(),
        "dtw_distance": _dtw_distance_sql(),
        "ffd_bin_packing": _ffd_bin_packing_sql(),
        "pl2_topk": _pl2_topk_sql(),
        "maxsim_topk": _maxsim_topk_sql(),
        "greedy_max_coverage": _greedy_max_coverage_sql(),
        "linear_threshold_spread": _linear_threshold_sql(),
        "cuped": _cuped_sql(),
        "sprt": _sprt_sql(),
        "salt_plan": _salt_plan_sql(),
        "markov_attribution": _markov_attribution_sql(),
        "shapley_attribution": _shapley_attribution_sql(),
        "quantile_normalization": _quantile_normalization_sql(),
        "haar_wavelet": _haar_wavelet_sql(),
        "geo_hotspots": _geo_hotspots_sql(),
        "adamic_adar": _adamic_adar_sql(),
        "g2_collocations": _g2_collocations_sql(),
        "kanonymity_audit": _kanonymity_sql(),
        "theil_decomposition": _THEIL_SQL,
        "bh_fdr": _bh_fdr_sql(),
        "feature_propagation": _feature_propagation_sql(),
        "rolling_median": _rolling_median_sql(),
        "s_stemmer": _s_stemmer_sql(),
        "kruskal_wallis": _kruskal_wallis_sql(),
        "wasserstein_drift": _wasserstein_drift_sql(),
        "diff_in_diff": _diff_in_diff_sql(),
        "js_divergence": _js_divergence_sql(),
        "levene_test": _levene_test_sql(),
        "hill_tail_index": _hill_tail_index_sql(),
        "chatterjee_xi": _chatterjee_xi_sql(),
        "ccf_leadlag": _ccf_leadlag_sql(),
        "isotonic_calibration": _isotonic_calibration_sql(),
        "stratified_ate": _stratified_ate_sql(),
        "regression_diagnostics": _regression_diagnostics_sql(),
        "page_hinkley": _page_hinkley_sql(),
        "flesch_readability": _flesch_readability_sql(),
        "burrows_delta": _burrows_delta_sql(),
        "rbo_rankings": _rbo_rankings_sql(),
        "hurst_exponent": _hurst_exponent_sql(),
        "em_gmm": _em_gmm_sql(),
        "granger_causality": _granger_causality_sql(),
        "weibull_fit": _weibull_fit_sql(),
        "bayesian_ab": _bayesian_ab_sql(),
        "eb_shrinkage": _eb_shrinkage_sql(),
        "gumbel_maxima": _gumbel_maxima_sql(),
        "quantile_treatment_effects": _qte_sql(),
        "pettitt_test": _pettitt_test_sql(),
        "t_closeness": _t_closeness_sql(),
        "entropy_rate": _entropy_rate_sql(),
        "rich_club": _rich_club_sql(),
        "conformal_interval": _conformal_interval_sql(),
        "fwl_partial_regression": _fwl_sql(),
        "croston_forecast": _croston_sql(),
        "stl_anomalies": _stl_anomalies_sql(),
        "err_eval": _err_eval_sql(),
        "newman_modularity": _newman_modularity_sql(),
        "hodges_lehmann": _hodges_lehmann_sql(),
        "nb_dispersion_fit": _nb_dispersion_fit_sql(),
        "power_analysis": _power_analysis_sql(),
        "clustering_coefficient": _clustering_coefficient_sql(),
        "cramers_v": _cramers_v_sql(),
        "ece_calibration": _ece_calibration_sql(),
        "taylor_law": _taylor_law_sql(),
        "burstiness_index": _burstiness_index_sql(),
        "ipw_ate": _ipw_ate_sql(),
        "jackknife_ratio": _jackknife_ratio_sql(),
        "kish_neff": _kish_neff_sql(),
        "ipf_raking": _ipf_raking_sql(),
        "paired_ttest": _paired_ttest_sql(),
        "mcnemar_test": _mcnemar_test_sql(),
        "bland_altman": _bland_altman_sql(),
        "deming_regression": _deming_regression_sql(),
        "pacf_daily": _pacf_daily_sql(),
        "runs_test": _runs_test_sql(),
        "newey_west_se": _newey_west_se_sql(),
        "spectral_peaks": _spectral_peaks_sql(),
        "map_eval": _map_eval_sql(),
        "markov_next_event_eval": _markov_next_event_eval_sql(),
        "price_elasticity": _price_elasticity_sql(),
        "hhi_concentration": _hhi_concentration_sql(),
        "rmst": _rmst_sql(),
        "cochran_armitage": _cochran_armitage_sql(),
        "odds_ratio_2x2": _odds_ratio_2x2_sql(),
        "spc_imr_chart": _spc_imr_chart_sql(),
        "price_index": _price_index_sql(),
        "profile_similarity": _profile_similarity_sql(),
        "adjusted_residuals": _adjusted_residuals_sql(),
        "seasonal_strength": _seasonal_strength_sql(),
        "newsvendor_quantile": _newsvendor_quantile_sql(),
        "lin_ccc": _lin_ccc_sql(),
        "youden_threshold": _youden_threshold_sql(),
        "cronbach_alpha": _cronbach_alpha_sql(),
        "gini_split": _gini_split_sql(),
        "srm_check": _srm_check_sql(),
        "phrase_positions": _phrase_positions_sql(),
        "near_positions": _near_positions_sql(),
        "proximity_rank": _proximity_rank_sql(),
        "tokenizer_fertility": r"""
            WITH agg AS (SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(list_filter(
                        regexp_split_to_array(text, '\s+'),
                        x -> x <> ''))) AS BIGINT) AS ws_tokens,
                   CAST(sum(len(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
                       AS bpe_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars
            FROM documents GROUP BY 1)
            SELECT lang, n_docs, ws_tokens, bpe_tokens,
                   round(bpe_tokens * 1.0 / ws_tokens, 6) AS fertility,
                   round(n_chars * 1.0 / bpe_tokens, 6) AS chars_per_token
            FROM agg ORDER BY lang
        """,
        "lexical_richness": f"""
            WITH tf AS (SELECT doc_id, t, count(*) AS tf
                        FROM ({_TOKS}) WHERE doc_id < 150 GROUP BY 1, 2)
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                   count(*) AS n_types,
                   round(count(*) * 1.0 / sum(tf), 6) AS ttr,
                   round(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) * 1.0
                         / sum(tf), 6) AS hapax_rate
            FROM tf GROUP BY doc_id ORDER BY doc_id
        """,
        "benford_test": """
            WITH per AS (SELECT substr(CAST(CAST(floor(o_totalprice)
                                    AS BIGINT) AS VARCHAR), 1, 1) AS digit,
                                count(*) AS n
                         FROM orders GROUP BY 1),
                 tot AS (SELECT sum(n) AS total FROM per)
            SELECT digit, n, round(n / total, 6) AS obs_frac,
                   round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
                       AS exp_frac,
                   round(pow(n / total
                             - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 2)
                         / log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * total,
                         4) AS chi2_contrib
            FROM per, tot ORDER BY digit
        """,
        "keywords_tfidf": f"""
            WITH tok AS ({_TOKS}),
                 tf AS (SELECT doc_id, t, count(*) AS tf
                        FROM tok GROUP BY 1, 2),
                 dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
                 nn AS (SELECT count(*) AS n FROM documents),
                 scored AS (SELECT doc_id, t,
                                   round(tf * ln((SELECT n FROM nn) * 1.0
                                                 / df), 6) AS score
                            FROM tf JOIN dft USING (t) WHERE doc_id < 100),
                 r AS (SELECT doc_id, t, score,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY score DESC, t)
                                  AS rank
                       FROM scored)
            SELECT doc_id, rank, t, score FROM r
            WHERE rank <= {pipelines.KEYWORDS_TOPN} ORDER BY doc_id, rank
        """,
        "heaps_law": f"""
            WITH tok AS ({_TOKS.replace("FROM documents",
                          "FROM documents WHERE doc_id < 300")}),
                 per_tok AS (SELECT doc_id, count(*) AS n_tok
                             FROM tok GROUP BY doc_id),
                 first AS (SELECT first_doc AS doc_id, count(*) AS n_new
                           FROM (SELECT t, min(doc_id) AS first_doc
                                 FROM tok GROUP BY t)
                           GROUP BY 1),
                 pts AS (SELECT ln(sum(n_tok) OVER (ORDER BY doc_id)) AS x,
                                ln(sum(coalesce(n_new, 0))
                                   OVER (ORDER BY doc_id)) AS y
                         FROM per_tok LEFT JOIN first USING (doc_id)),
                 agg AS (SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
                                sum(x * y) AS sxy, sum(x * x) AS sxx
                         FROM pts)
            SELECT m AS n_points,
                   round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6)
                       AS beta,
                   round(exp((sy - (m * sxy - sx * sy)
                                   / (m * sxx - sx * sx) * sx) / m), 6)
                       AS k
            FROM agg
        """,
        "novelty_curve": f"""
            WITH sh AS ({_SHINGLES.format(maxdoc=300)}),
                 first AS (SELECT sh, min(doc_id) AS first_doc
                           FROM sh GROUP BY sh)
            SELECT doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN first_doc = doc_id
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                   round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                         / count(*), 6) AS novelty
            FROM sh JOIN first USING (sh)
            GROUP BY doc_id ORDER BY doc_id
        """,
    }
