"""DuckDB oracle SQL of the analytics entries, fixed with the entry list.

Copied from the registry's `oracle_sql()`: the check then does not move when
the registry is refactored, and looking the SQL up never reads the token
fixtures that `queries.oracles()` derives from data outside the run
directory. An entry whose result changes fails its check."""

ORACLE_SQL = {
    "dedup_cluster_sample": r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tokens
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tokens) - 1),
           i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2])) AS shingles
  FROM toks
  WHERE len(tokens) >= 3
),
e AS (SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh FROM sh),
cand AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         count(*) AS inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT a_id, b_id FROM cand
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM jpairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM jpairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT edges.src, reach.r FROM edges JOIN reach ON edges.dst = reach.id
),
comp AS (
  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
),
labeled AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM labeled GROUP BY component
),
kept AS (
  SELECT l.doc_id, s.cluster_size,
         (CAST(('0x' || substr(md5(CAST(l.doc_id AS VARCHAR)),
                               25, 8)) AS BIGINT)
          * s.cluster_size) < 2147483648 AS keep
  FROM labeled l JOIN sizes s USING (component)
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM kept
GROUP BY cluster_size
ORDER BY cluster_size
""",
    "neardup_components": r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tokens
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tokens) - 1),
           i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2])) AS shingles
  FROM toks
  WHERE len(tokens) >= 3
),
e AS (SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh FROM sh),
cand AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         count(*) AS inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT a_id, b_id FROM cand
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM jpairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM jpairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT edges.src, reach.r FROM edges JOIN reach ON edges.dst = reach.id
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach
GROUP BY id
ORDER BY doc_id
""",
    "chunk_bm25_topk": r"""
WITH toks0 AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tokens
  FROM documents
),
ex AS (
  SELECT doc_id, s,
         list_slice(tokens, s, least(s + 15, len(tokens))) AS ctoks
  FROM (
    SELECT doc_id, tokens,
           unnest(range(1, greatest(len(tokens), 1) + 1, 12)) AS s
    FROM toks0
  )
),
chunkmap AS (
  SELECT doc_id, CAST((s - 1) // 12 AS BIGINT) AS chunk_idx,
         doc_id * 1000000 + (s - 1) // 12 AS cid,
         array_to_string(ctoks, ' ') AS text
  FROM ex WHERE len(ctoks) > 0
),
chunkdocs AS (SELECT cid AS doc_id, text FROM chunkmap),
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tokens
  FROM chunkdocs
),
doclen AS (SELECT doc_id, len(tokens) AS dl FROM toks),
tf AS (
  SELECT doc_id, unnest(tokens) AS term FROM toks
),
tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY 1),
cstats AS (SELECT count(*) AS N, avg(dl) AS avgdl FROM doclen),
rawidf AS (
  SELECT term, ln((N - df + 0.5) / (df + 0.5)) AS raw FROM dfc, cstats
),
avgidf AS (SELECT avg(raw) AS av FROM rawidf),
idf AS (
  SELECT term, CASE WHEN raw < 0 THEN 0.25 * av ELSE raw END AS idf
  FROM rawidf, avgidf
),
qterms(term, qtf) AS (VALUES ('spark', 1), ('join', 1), ('query', 1), ('vector', 1), ('the', 1)),
scores AS (
  SELECT t.doc_id,
         SUM(q.qtf * i.idf * t.tf * 2.5 / (t.tf + 1.5 * (1 - 0.75 + 0.75 * d.dl / c.avgdl))) AS s
  FROM tfc t
  JOIN qterms q USING (term)
  JOIN idf i USING (term)
  JOIN doclen d USING (doc_id),
  cstats c
  GROUP BY t.doc_id
),
perchunk AS (
  SELECT m.doc_id, m.chunk_idx, round(s.s, 6) AS score
  FROM chunkmap m JOIN scores s ON s.doc_id = m.cid
),
best AS (
  SELECT doc_id, chunk_idx AS best_chunk, score,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, chunk_idx ASC
         ) AS rn
  FROM perchunk
)
SELECT doc_id, best_chunk, score FROM best WHERE rn = 1
ORDER BY score DESC, doc_id DESC
LIMIT 10
""",
    "minhash_neardup": r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tokens
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tokens) - 1),
           i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2])) AS shingles
  FROM toks
  WHERE len(tokens) >= 3
),
e AS (SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh FROM sh),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         count(*) AS inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
ORDER BY a_id, b_id
""",
    "knn_join_topk": r"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < 50
),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(1.0 / (1.0 + list_sum(list_transform(range(1, len(e.embedding)+1), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))^2))), 6) AS score
  FROM embeddings e, qs q
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT query_id, vec_id, score, rn FROM ranked WHERE rn <= 5
ORDER BY query_id, rn
""",
    "regional_supplier_volume": r"""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01'
  AND o_orderdate < '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
}
