"""Independent answer for the anime_metadata job, computed by DuckDB over the
same generated files the job reads (adapted from the q54/q58 oracle SQL).

It restates the reference semantics of `dataruu/run.py` and
`legacy/merge_final_train_metadata.py`:
  - image key = file name up to the first `_`; a missing sidecar gives an
    empty rating and no tags (J1 defaults), and the image is kept;
  - rating = text before the first comma; tags = the rest, split on commas,
    trimmed, empties dropped, first occurrence kept;
  - bucket = the exact grid resolution if (w, h) is one, else the grid
    entry with the nearest aspect ratio (first on ties); train size is
    rounded down to a multiple of 8;
  - the score list is a per-key dict; unscored images drop; keep >= 0.5;
  - NovelAI order: prefix tags (girl/boy) in first-occurrence order, then
    character tags, then known or trigger-word tags, each by length
    descending then name;
  - legacy merge: keep >= 0.6, join the image dims, tags = ordered tags,
    highest score first (ties by key), first N rows.
"""
import math

TRIGGERS = [":", "x", "resolution", "aspect", "ratio"]


def bucket_resos(max_w=1024, max_h=1024, min_size=256, max_size=1024, steps=64):
    """`bucket_manager.py:8-27` grid, sorted like the reference."""
    max_area = max_w * max_h
    resos = {((int(math.sqrt(max_area)) // steps) * steps,) * 2}
    width = min_size
    while width <= max_size:
        height = min(max_size, (max_area // width) // steps * steps)
        if height >= min_size:
            resos.add((width, height))
            resos.add((height, width))
        width += steps
    return sorted(resos)


def expected_sql(inp: str, cut: int) -> str:
    resos = "[" + ", ".join(f"{{'rw': {w}, 'rh': {h}}}" for w, h in bucket_resos()) + "]"
    trig = " OR ".join(f"contains(tag, '{t}')" for t in TRIGGERS)
    return f"""
WITH img AS (
  SELECT id, split_part(regexp_replace(regexp_replace(path, '^.*/', ''), '\\.[^.]*$', ''), '_', 1) AS image_key,
         w, h
  FROM read_json('{inp}/images/*.jsonl', format = 'newline_delimited',
                 columns = {{id: 'BIGINT', path: 'VARCHAR', w: 'INTEGER', h: 'INTEGER'}})),
side AS (
  SELECT image_key, line FROM read_json('{inp}/sidecars/*.jsonl', format = 'newline_delimited',
                 columns = {{image_key: 'VARCHAR', line: 'VARCHAR'}})),
j1 AS (SELECT img.*, coalesce(side.line, '') AS line FROM img LEFT JOIN side USING (image_key)),
pr AS (
  SELECT id, image_key, w, h, trim(split_part(line, ',', 1)) AS rating,
    CASE WHEN instr(line, ',') = 0 THEN []::VARCHAR[]
         ELSE list_filter(list_transform(string_split(substr(line, instr(line, ',') + 1), ','),
                x -> trim(x)), x -> x <> '') END AS rawtags
  FROM j1),
dd AS (SELECT *, list_filter(rawtags, (t, i) -> list_position(rawtags, t) = i) AS tags FROM pr),
m AS (SELECT *, w / h AS ar, {resos} AS resos FROM dd),
e AS (SELECT *, list_transform(resos, r -> abs(r.rw / r.rh - ar)) AS errs,
        len(list_filter(resos, r -> r.rw = w AND r.rh = h)) > 0 AS exact FROM m),
b AS (SELECT *,
  CASE WHEN exact THEN w ELSE resos[list_position(errs, list_aggregate(errs, 'min'))].rw END AS reso_w,
  CASE WHEN exact THEN h ELSE resos[list_position(errs, list_aggregate(errs, 'min'))].rh END AS reso_h
  FROM e),
tr AS (SELECT id, image_key, w, h, rating, tags,
         reso_w - reso_w % 8 AS train_w, reso_h - reso_h % 8 AS train_h FROM b),
sc AS (SELECT image_key, max(aesthetic_score) AS aesthetic_score
       FROM read_json('{inp}/scores/*.jsonl', format = 'newline_delimited',
                      columns = {{image_key: 'VARCHAR', aesthetic_score: 'DOUBLE'}})
       GROUP BY image_key),
fj AS (SELECT tr.*, sc.aesthetic_score FROM tr JOIN sc USING (image_key) WHERE sc.aesthetic_score >= 0.5),
vocab AS (SELECT DISTINCT name AS vtag FROM read_csv('{inp}/selected_tags.csv', header = true,
            columns = {{tag_id: 'BIGINT', name: 'VARCHAR', category: 'INTEGER', count: 'BIGINT'}})
          WHERE category = 0),
ex AS (SELECT image_key, unnest(tags) AS tag, generate_subscripts(tags, 1) AS pos FROM fj),
cl AS (SELECT ex.*, CASE WHEN contains(tag, 'girl') OR contains(tag, 'boy') THEN 0
                         WHEN vocab.vtag IS NOT NULL THEN 2
                         WHEN {trig} THEN 2 ELSE 1 END AS cls
       FROM ex LEFT JOIN vocab ON vocab.vtag = ex.tag),
agg AS (SELECT image_key,
  coalesce(string_agg(tag, ',' ORDER BY pos) FILTER (WHERE cls = 0), '') AS p,
  coalesce(string_agg(tag, ',' ORDER BY length(tag) DESC, tag) FILTER (WHERE cls = 1), '') AS c,
  coalesce(string_agg(tag, ',' ORDER BY length(tag) DESC, tag) FILTER (WHERE cls = 2), '') AS n
  FROM cl GROUP BY image_key),
modern AS (
  SELECT fj.image_key, fj.train_w, fj.train_h, fj.rating, round(fj.aesthetic_score, 6) AS aesthetic_score,
    regexp_replace(coalesce(agg.p, '') || ',' || coalesce(agg.c, '') || ',' || coalesce(agg.n, ''),
                   '^,+|,+$', '', 'g') AS ordered_tags
  FROM fj LEFT JOIN agg USING (image_key))
SELECT modern.*, img.w, img.h, modern.ordered_tags AS tags
FROM modern JOIN img USING (image_key)
WHERE modern.aesthetic_score >= 0.6
ORDER BY aesthetic_score DESC, image_key
LIMIT {cut}
"""


ROW = ("CAST(image_key AS VARCHAR), CAST(train_w AS BIGINT), CAST(train_h AS BIGINT), "
       "CAST(rating AS VARCHAR), CAST(round(aesthetic_score * 1e6) AS BIGINT), "
       "CAST(ordered_tags AS VARCHAR), CAST(w AS BIGINT), CAST(h AS BIGINT), CAST(tags AS VARCHAR)")


def check(inp: str, out_glob: str, cut: int):
    """Row count plus an order-insensitive hash of the job's parquet output
    against the DuckDB answer. Returns (ok, message)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TEMP TABLE want AS {expected_sql(inp, cut)}")
    con.execute(f"CREATE TEMP VIEW got AS SELECT * FROM read_parquet('{out_glob}')")
    digest = f"SELECT count(*), sum(hash({ROW})::HUGEINT) FROM "
    want = con.execute(digest + "want").fetchone()
    got = con.execute(digest + "got").fetchone()
    if want == got:
        return True, f"{want[0]} rows match the DuckDB answer"
    miss = con.execute(f"SELECT count(*) FROM (SELECT {ROW} FROM want EXCEPT ALL SELECT {ROW} FROM got)").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {ROW} FROM got EXCEPT ALL SELECT {ROW} FROM want)").fetchone()[0]
    sample = con.execute(f"SELECT image_key, ordered_tags FROM want WHERE image_key NOT IN "
                         f"(SELECT image_key FROM got) LIMIT 3").fetchall()
    return False, (f"output has {got[0]} rows, DuckDB answer {want[0]}; {miss} expected rows missing, "
                   f"{extra} unexpected; e.g. missing {sample}")
