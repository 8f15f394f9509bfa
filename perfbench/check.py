"""Output checks, computed independently of the program with DuckDB.

- REPL store: every window the pipeline committed is recomputed from the
  generated tweet lines (parse, project, 10-minute/1-minute hop windows,
  per-kind counts and follower sums, max text, top-10 example tweets distinct
  per dedupe key, top-10 entities per window) and compared row for row; every
  window closed by the last committed watermark must be present.
- Backlog store (traced repl_mix runs): checked the same way against the
  backlog replay's lines.
- REPL: each distinct command's result file is compared with the same
  command evaluated over the store's parquet; repeated commands must write
  byte-identical results.
- Registry: each query's first result is compared with its DuckDB oracle
  SQL (`SparkEntry.oracleSql`) over the generated tables: columns by name,
  rows as a sorted multiset, floats bit-exact. Every timed execution must
  give rows with the same digest as the first.

A micro-batch that wrote a wrong or duplicated row, a store missing a closed
window, a command with a wrong, missing or failed result, and a query
execution with a wrong or failed result each count as one failed operation.
"""
import datetime
import glob
import json
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

FAMILIES = ("hashtags", "mentions", "retweets")

RAW_COLUMNS = """{
  id: 'BIGINT', text: 'VARCHAR', timestamp_ms: 'VARCHAR',
  extended_tweet: 'STRUCT(full_text VARCHAR)',
  entities: 'STRUCT(hashtags STRUCT(text VARCHAR)[], user_mentions STRUCT(screen_name VARCHAR)[])',
  "user": 'STRUCT(followers_count BIGINT, screen_name VARCHAR)',
  retweeted_status: 'STRUCT(id BIGINT, extended_tweet STRUCT(full_text VARCHAR))'}"""


def oracle(con, files):
    """Tables `o_entities` (top-10 per kind and window) and `o_counts`."""
    con.execute("CREATE OR REPLACE TEMP TABLE raw AS SELECT * FROM read_json(?, "
                "format='newline_delimited', columns=%s)" % RAW_COLUMNS, [files])
    con.execute("""
      CREATE OR REPLACE TEMP TABLE t AS SELECT id,
        coalesce(extended_tweet.full_text, retweeted_status.extended_tweet.full_text, text) AS text,
        "user".screen_name AS screen_name,
        coalesce("user".followers_count, 0) AS fc,
        CASE WHEN retweeted_status IS NOT NULL THEN retweeted_status.id ELSE -1 END AS orig,
        TRY_CAST(timestamp_ms AS BIGINT) AS ts_ms,
        coalesce(list_transform(entities.hashtags, x -> x.text), []) AS hashtags,
        coalesce(list_transform(entities.user_mentions, x -> x.screen_name), []) AS mentions
      FROM raw WHERE id IS NOT NULL AND TRY_CAST(timestamp_ms AS BIGINT) > 0""")
    con.execute("""
      CREATE OR REPLACE TEMP TABLE hop AS
      WITH ke AS (
        SELECT 'hashtags' AS kind, unnest(hashtags) AS entity, id, text, screen_name, fc, orig, ts_ms FROM t
        UNION ALL SELECT 'mentions', unnest(mentions), id, text, screen_name, fc, orig, ts_ms FROM t
        UNION ALL SELECT 'retweets', CAST(orig AS VARCHAR), id, text, screen_name, fc, orig, ts_ms
                  FROM t WHERE orig <> -1
        UNION ALL SELECT 'counts', '_all', id, text, screen_name, fc, orig, ts_ms FROM t)
      SELECT ke.*, (ts_ms // 60000 - k) * 60 + 600 AS window_end,
             CASE WHEN kind IN ('hashtags', 'mentions') AND orig <> -1 THEN orig ELSE id END AS dkey
      FROM ke, range(10) r(k)""")
    con.execute("""
      CREATE OR REPLACE TEMP TABLE o_entities AS
      WITH agg AS (
        SELECT kind, entity, window_end, count(*) AS tweet_count, sum(fc) AS follower_sum,
               max(text) AS max_text
        FROM hop WHERE kind <> 'counts' GROUP BY ALL),
      best AS (
        SELECT *, row_number() OVER (PARTITION BY kind, entity, window_end, dkey
                                     ORDER BY fc DESC, id) AS rk
        FROM hop WHERE kind <> 'counts'),
      top AS (
        SELECT *, row_number() OVER (PARTITION BY kind, entity, window_end
                                     ORDER BY fc DESC, id) AS r2
        FROM best WHERE rk = 1),
      ex AS (
        SELECT kind, entity, window_end, list(id ORDER BY r2) AS top_ids,
               list(screen_name ORDER BY r2) AS top_users
        FROM top WHERE r2 <= 10 GROUP BY ALL)
      SELECT a.kind, a.window_end, a.entity, a.tweet_count, a.follower_sum, a.max_text,
             e.top_ids, CASE WHEN a.kind = 'retweets' THEN e.top_users END AS top_users,
             row_number() OVER (PARTITION BY a.kind, a.window_end
                                ORDER BY a.follower_sum DESC, a.entity) AS rank
      FROM agg a JOIN ex e USING (kind, entity, window_end)
      QUALIFY rank <= 10""")
    con.execute("""
      CREATE OR REPLACE TEMP TABLE o_counts AS
      SELECT window_end, count(*) AS cnt FROM hop WHERE kind = 'counts' GROUP BY ALL""")


def committed(ckpt):
    """Committed batch ids and the highest watermark (ms) among them."""
    ids = {int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}
    wm = 0
    for i in ids:
        with open(os.path.join(ckpt, "offsets", str(i))) as f:
            wm = max(wm, json.loads(f.read().splitlines()[1])["batchWatermarkMs"])
    return ids, wm


def parquet_files(store, kind, ids=None):
    files = []
    for d in glob.glob(os.path.join(store, kind, "batch=*")):
        if ids is None or int(d.rsplit("=", 1)[1]) in ids:
            files += glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    return sorted(files)


def load_store(con, store, ids=None):
    """Tables `s_entities` and `s_counts` over the store's parquet."""
    parts = []
    for kind in FAMILIES:
        files = parquet_files(store, kind, ids)
        if files:
            users = "top_users" if kind == "retweets" else "NULL::VARCHAR[]"
            parts.append(con.sql(
                "SELECT '%s' AS kind, batch, window_end, entity, tweet_count, follower_sum, "
                "max_text, list_transform(top_tweets, x -> x.id) AS top_ids, %s AS top_users, "
                "rank::BIGINT AS rank, top_tweets FROM read_parquet(?, hive_partitioning=true)"
                % (kind, users), params=[files]).arrow())
    if parts:
        for i, p in enumerate(parts):
            con.register("p%d" % i, p)
        con.execute("CREATE OR REPLACE TEMP TABLE s_entities AS "
                    + " UNION ALL BY NAME ".join("SELECT * FROM p%d" % i for i in range(len(parts))))
    else:
        con.execute("CREATE OR REPLACE TEMP TABLE s_entities AS SELECT * FROM o_entities "
                    "LIMIT 0")
    files = parquet_files(store, "counts", ids)
    con.execute("CREATE OR REPLACE TEMP TABLE s_counts AS SELECT batch, window_end, cnt "
                "FROM read_parquet(?, hive_partitioning=true)", [files])


def check_store(con, store, ckpt):
    """Returns (batches attempted, batches failed, problems)."""
    ids, wm = committed(ckpt)
    load_store(con, store, ids)
    vals = ("tweet_count", "follower_sum", "max_text", "top_ids", "top_users", "rank")
    differs = " OR ".join("s.%s IS DISTINCT FROM o.%s" % (c, c) for c in vals)
    bad = {b for (b,) in con.execute(
        "SELECT DISTINCT s.batch FROM s_entities s LEFT JOIN o_entities o "
        "ON s.kind = o.kind AND s.window_end = o.window_end AND s.entity = o.entity "
        "WHERE o.kind IS NULL OR " + differs).fetchall()}
    bad |= {b for (b,) in con.execute(
        "SELECT DISTINCT s.batch FROM s_counts s LEFT JOIN o_counts o USING (window_end) "
        "WHERE s.cnt IS DISTINCT FROM o.cnt").fetchall()}
    bad |= {b for (b,) in con.execute(
        "SELECT DISTINCT batch FROM (SELECT batch, "
        "count(*) OVER (PARTITION BY kind, window_end, entity) AS n FROM s_entities "
        "UNION ALL SELECT batch, count(*) OVER (PARTITION BY window_end) FROM s_counts) "
        "WHERE n > 1").fetchall()}
    missing = con.execute(
        "SELECT count(*) FROM o_entities o LEFT JOIN s_entities s "
        "ON s.kind = o.kind AND s.window_end = o.window_end AND s.entity = o.entity "
        "WHERE o.window_end * 1000 <= ? AND s.kind IS NULL", [wm]).fetchone()[0]
    missing += con.execute(
        "SELECT count(*) FROM o_counts o LEFT JOIN s_counts s USING (window_end) "
        "WHERE o.window_end * 1000 <= ? AND s.cnt IS NULL", [wm]).fetchone()[0]
    problems = ["%s: batch %s wrote wrong or duplicate rows" % (store, b) for b in sorted(bad)]
    if missing:
        problems.append("%s: %d closed windows missing" % (store, missing))
    if not con.execute("SELECT count(*) FROM s_counts").fetchone()[0]:
        problems.append("%s: no window was committed" % store)
    return len(ids), len(bad) + (1 if missing else 0), problems


def epoch(t):
    if t.isdigit():
        return int(t)
    return int(datetime.datetime.fromisoformat(t).replace(tzinfo=datetime.timezone.utc).timestamp())


def iso(s):
    return datetime.datetime.fromtimestamp(s, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.000Z")


def drop_nulls(x):
    if isinstance(x, dict):
        return {k: drop_nulls(v) for k, v in x.items() if v is not None}
    if isinstance(x, list):
        return [drop_nulls(v) for v in x]
    return x


def expected(con, line):
    """The command evaluated over the store tables, in the REPL's JSON shape."""
    parts = line.split()
    cmd = parts[0]
    q = con.execute
    if cmd == "getsummary":
        mn, mx, n, total = q("SELECT min(window_end), max(window_end), count(*), sum(cnt) "
                             "FROM s_counts").fetchone()
        return [{"MinDate": iso(mn), "MaxDate": iso(mx), "DurationSeconds": mx - mn,
                 "WindowCount": n, "NumberOfTweets": int(total)}]
    if cmd == "getcounts":
        rows = q("SELECT window_end, cnt FROM s_counts WHERE window_end >= ? AND window_end < ? "
                 "ORDER BY window_end", [epoch(parts[1]), epoch(parts[2])]).fetchall()
        return [{"WindowTime": w, "Count": c} for w, c in rows]
    entity_field = {"mentions": "ScreenName", "hashtags": "HashTag"}

    def shape(kind, rows):
        out = []
        for w, fs, tc, ent, mt, tt, tu in rows:
            if kind == "retweets":
                out.append({"WindowTime": w, "FollowerCountSum": fs, "TweetCount": tc,
                            "Id": int(ent), "Text": mt, "TopUsers": tu})
            else:
                out.append({"WindowTime": w, "FollowerCountSum": fs, "TweetCount": tc,
                            entity_field[kind]: ent,
                            "TopTweets": [{"Id": x["id"], "FollowerCount": x["followerCount"],
                                           "Text": x["text"], "ScreenName": x["screenName"],
                                           "OriginalTweetId": x["originalTweetId"]} for x in tt]})
        return drop_nulls(out)

    sel = ("SELECT window_end, follower_sum, tweet_count, entity, max_text, top_tweets, top_users "
           "FROM s_entities WHERE kind = ?")
    if cmd.startswith("gettop"):
        kind = cmd[len("gettop"):-len("string")]
        sql, args = sel + " AND window_end >= ? AND window_end < ?", \
            [kind, epoch(parts[1]), epoch(parts[2])]
        if len(parts) == 4:
            sql, args = sql + " AND entity = ?", args + [parts[3]]
        return shape(kind, q(sql + " ORDER BY window_end, entity", args).fetchall())
    if cmd == "getrecentcounts":
        rows = q("SELECT window_end, cnt FROM s_counts ORDER BY window_end DESC LIMIT ?",
                 [int(parts[1])]).fetchall()
        return [{"WindowTime": w, "Count": c} for w, c in rows]
    kind = cmd[len("getrecenttop"):-len("string")]
    return shape(kind, q(sel + " ORDER BY window_end DESC, entity DESC LIMIT ?",
                         [kind, int(parts[1])]).fetchall())


def check_repl(con, store, work):
    load_store(con, store)
    attempted = failed = 0
    problems = []
    first = {}
    with open(os.path.join(work, "commands.log")) as f:
        log = [ln.rstrip("\n").split("\t") for ln in f if ln.strip()]
    for line, _, path in log:
        attempted += 1
        if not path:
            failed += 1
            problems.append("'%s' wrote no result" % line)
            continue
        with open(path, "rb") as f:
            body = f.read()
        if line in first:
            ok = body == first[line]
        else:
            first[line] = body
            got = [json.loads(x) for x in body.decode().splitlines() if x.strip()]
            ok = got == expected(con, line)
        if not ok:
            failed += 1
            problems.append("'%s' result differs from the oracle (%s)" % (line, path))
    return attempted, failed, problems


def cell(v):
    """A result cell for comparison: floats bit-exact, NaN equal to NaN."""
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", v.hex())
    if isinstance(v, (list, dict)):
        return ("c", json.dumps(v, sort_keys=True, default=repr))
    return v


def rows_of(con, sql):
    """Rows with columns in name order, as a sorted list."""
    rel = con.execute(sql)
    names = [d[0] for d in rel.description]
    idx = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(cell(r[i]) for i in idx) for r in rel.fetchall()]
    return sorted(names), sorted(rows, key=repr)


def check_registry(con, data, work):
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
                    % (t, os.path.join(data, "tables", t + ".parquet")))
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(work, "digests.json")) as f:
        digests = json.load(f)
    problems = []
    good = set()
    for name, sql in sorted(oracle.items()):
        result = os.path.join(work, "results", name)
        if not sql or name not in digests or not os.path.isdir(result):
            problems.append("%s: no oracle or no result" % name)
            continue
        want = rows_of(con, sql)
        got = rows_of(con, "SELECT * FROM '%s/*.parquet'" % result)
        if want != got:
            problems.append("%s: %d result rows differ from %d oracle rows (columns %s vs %s)"
                            % (name, len(got[1]), len(want[1]), got[0], want[0]))
            continue
        good.add(name)
    attempted = failed = 0
    with open(os.path.join(work, "queries.log")) as f:
        for ln in f:
            if not ln.strip():
                continue
            name, _, digest = ln.rstrip("\n").split("\t")
            attempted += 1
            if name not in good or digest != digests[name]:
                failed += 1
                if name in good:
                    problems.append("%s: a timed execution gave other rows" % name)
    return attempted, failed, problems


def check(workload, data, work):
    """Returns (operations attempted, operations failed, problems)."""
    con = duckdb.connect()
    con.execute("SET threads = %d" % min(4, len(os.sched_getaffinity(0))))
    try:
        if workload == "registry":
            return check_registry(con, data, work)
        with open(os.path.join(work, "stores.txt")) as f:
            store = f.read().strip()
        oracle(con, sorted(glob.glob(os.path.join(data, "days", "*.jsonl"))))
        _, store_failed, store_problems = check_store(
            con, store, os.path.join(os.path.dirname(store), "ckpt"))
        attempted, failed, problems = check_repl(con, store, work)
        failed += store_failed
        problems += store_problems
        # a traced run's backlog drain: each of its micro-batches is an operation
        backlog = os.path.join(work, "backlog")
        if os.path.isdir(backlog):
            oracle(con, sorted(glob.glob(os.path.join(data, "backlog", "*.jsonl"))))
            n, bad, more = check_store(con, os.path.join(backlog, "store"),
                                       os.path.join(backlog, "ckpt"))
            attempted, failed, problems = attempted + n, failed + bad, problems + more
        return attempted, failed, problems
    finally:
        con.close()
