"""Configurations served by the `serve` workload, with their oracles.

Each configuration is a template with one integer literal `{v}`, put
into both its `.hb` program (or workbench filter transformation) and its
DuckDB SQL. The runner draws the literal from `range(lo, hi)` with the
run's seed; the check runs the SQL with the literal each response was
served for.

A configuration whose program sorts (`ordered=True`) has an SQL that
ends in the matching ORDER BY, and its responses are compared in order;
the others are compared as multisets.

The programs follow the catalogue's `.hb` gates (hb_velocity,
hb_series_window, hb_encode) with a filter on the literal put in front.
"""

EVENTS = "provider: parquet\ntable: events\n\n"
LINEITEM = "provider: parquet\ntable: lineitem\n\n"
DOCUMENTS = "provider: parquet\ntable: documents\n\n"

NORM = "regexp_replace(text, '\\s+', ' ', 'g')"


CLICKS_PER_DAY_SQL = (
    "SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS tick "
    "FROM events WHERE event_type = 'click' GROUP BY 1")
MEAN_VALUE_PER_DAY_SQL = (
    "SELECT CAST(ts AS DATE) AS day, "
    "CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS value "
    "FROM events GROUP BY 1")

# Uploaded once before the load starts and never changed: the operands
# of the workbench join.
STATIC = {
    "op_clicks": EVENTS + """only (event_type = 'click')
create column day (format date "ts" date)
create column tick 1
slice columns day tick
group by day -> sum
create column day keys
""",
    "op_value": EVENTS + """create column day (format date "ts" date)
slice columns day value
group by day -> mean
create column day keys
""",
}

CONFIGS = [
    dict(name="wb_join", lo=0, hi=400,
         source={"provider": "join", "left": "op_clicks",
                 "right": "op_value", "field": "day"},
         filter="only (tick > {v})",
         sql=f"""SELECT day, c.tick, v.value
FROM ({CLICKS_PER_DAY_SQL}) c
FULL OUTER JOIN ({MEAN_VALUE_PER_DAY_SQL}) v USING (day)
WHERE c.tick > {{v}}"""),
    dict(name="ev_velocity", lo=0, hi=150,
         hb=EVENTS + """only (value > {v})
create column day (format date "ts" date)
pivot [day] [event_type] -> count [event_id]
sort by column day
create column click3 (moving mean 3 [click])
create column view7 (moving mean 7 [view])
slice columns day click view purchase click3 view7
""", sql="""WITH p AS (
  SELECT CAST(ts AS DATE) AS day,
    NULLIF(COUNT(CASE WHEN event_type = 'click' THEN 1 END), 0) AS click,
    NULLIF(COUNT(CASE WHEN event_type = 'view' THEN 1 END), 0) AS view,
    NULLIF(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS purchase
  FROM events WHERE value > {v} GROUP BY 1)
SELECT day, click, view, purchase,
  CASE WHEN ROW_NUMBER() OVER w >= 3 THEN
    AVG(click) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) END AS click3,
  CASE WHEN ROW_NUMBER() OVER w >= 7 THEN
    AVG(view) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) END AS view7
FROM p WINDOW w AS (ORDER BY day)
ORDER BY day""", ordered=True),

    dict(name="ev_series", lo=0, hi=200,
         hb="series: user_id\n" + EVENTS + """only (user_id % 200 = {v})
sort by column event_id
sort by column ts
create column m3 (moving mean 3 [event_id])
create column run (expanding sum [event_id])
slice columns user_id event_id m3 run
""", sql="""SELECT user_id, event_id,
  CASE WHEN ROW_NUMBER() OVER w >= 3 THEN
    AVG(event_id) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) END AS m3,
  CAST(SUM(event_id) OVER
    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
FROM events WHERE user_id % 200 = {v}
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""),

    dict(name="li_flags", lo=1, hi=50,
         hb=LINEITEM + """only (l_quantity > {v})
create column tick 1
slice columns l_returnflag tick
group by l_returnflag -> sum
create column l_returnflag keys
sort by column l_returnflag
""", sql="""SELECT CAST(COUNT(*) AS BIGINT) AS tick, l_returnflag
FROM lineitem WHERE l_quantity > {v} GROUP BY l_returnflag
ORDER BY l_returnflag""", ordered=True),

    # fit-bearing: `encode` fits its vocabulary on the filtered frame
    dict(name="doc_encode", lo=0, hi=50,
         hb=DOCUMENTS + """index rows by doc_id
only (doc_id % 50 = {v})
encode text 64
create column doc_id keys
slice columns doc_id token_ids
""", sql=f"""WITH d AS (SELECT * FROM documents WHERE doc_id % 50 = {{v}}),
tok AS (
  SELECT doc_id,
    unnest(string_split(lower({NORM}), ' ')) AS tok,
    generate_subscripts(string_split(lower({NORM}), ' '), 1) AS pos
  FROM d),
cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
vocab AS (
  SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS id
  FROM cnt ORDER BY n DESC, tok ASC LIMIT 64),
enc AS (
  SELECT t.doc_id,
    list(CAST(coalesce(v.id, 0) AS INTEGER) ORDER BY t.pos) AS token_ids
  FROM tok t LEFT JOIN vocab v USING (tok)
  GROUP BY t.doc_id)
SELECT d.doc_id, e.token_ids
FROM d LEFT JOIN enc e USING (doc_id)"""),

]


def spec():
    """The part of the configurations the runner needs (no SQL)."""
    out = []
    for c in CONFIGS:
        d = {k: c[k] for k in ("name", "lo", "hi")}
        if "hb" in c:
            d["kind"] = "hb"
            d["hb"] = c["hb"]
        else:
            d["kind"] = "workbench"
            d["source"] = c["source"]
            d["filter"] = c["filter"]
        out.append(d)
    return {"configs": out, "static": STATIC}
