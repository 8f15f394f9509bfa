"""Seeded input generator and per-workload input layout.

Every input the program sees is written here from the seed alone.

Tweet traffic (the REPL workload's store; README.md gives each value
with its basis):

- hashtags, mentions, authors and retweeted originals are Zipf-skewed;
- about 20% of tweets are retweets, some with extended text, and about 5%
  of tweets carry extended text of their own;
- about 10% of events arrive out of order, up to 4 s behind the event clock,
  which stays inside the program's 5-s watermark, so no event is dropped as
  late and a batch computation over the same lines is an exact oracle;
- about 1% of lines have no usable timestamp, which the program drops.

Registry tables (the registry workload): the ten tables the registry
queries read, in the column layout of the program's test tables, written
as parquet by DuckDB from seeded hashes. The query order is fixed.
"""
import bisect
import datetime
import itertools
import json
import os
import random

# 2024-01-01T00:00:00Z; every workload's event clock starts here.
EPOCH_MS = 1704067200000

WORDS = ("spark stream window watermark state store query tweet batch event "
         "trigger sink source offset commit latency rank entity payload "
         "hop slide count follow retweet mention hashtag replay").split()

class Zipf:
    """Inverse-CDF sampler over ranks 1..n with P(k) ~ 1/k^s."""

    def __init__(self, n, s):
        acc = list(itertools.accumulate(1.0 / k ** s for k in range(1, n + 1)))
        self.cdf = [c / acc[-1] for c in acc]

    def draw(self, rng):
        return bisect.bisect_left(self.cdf, rng.random()) + 1


TAGS = Zipf(2000, 1.1)
USERS = Zipf(5000, 1.1)
AUTHORS = Zipf(20000, 1.0)
ORIGINALS = Zipf(400, 1.2)


class TweetGen:
    def __init__(self, seed, id_base):
        self.rng = random.Random(seed)
        self.next_id = id_base

    def _words(self, lo, hi):
        return " ".join(self.rng.choice(WORDS) for _ in range(self.rng.randint(lo, hi)))

    def _distinct(self, zipf, k, fmt):
        out = []
        while len(out) < k:
            name = fmt % zipf.draw(self.rng)
            if name not in out:
                out.append(name)
        return out

    def line(self, clock_ms):
        rng = self.rng
        tid = self.next_id
        self.next_id += 1
        ts = clock_ms - (rng.randint(0, 4000) if rng.random() < 0.10 else 0)
        tags = self._distinct(TAGS, rng.choice((0, 1, 1, 1, 2, 3)), "tag%d")
        mentions = self._distinct(USERS, rng.choice((0, 0, 1, 1, 2)), "user%d")
        text = "tweet %d %s %s" % (tid, self._words(3, 9), " ".join("#" + t for t in tags))
        retweet = None
        if rng.random() < 0.20:
            retweet = {"id": 7_000_000 + ORIGINALS.draw(rng), "extended_tweet": None}
            if rng.random() < 0.30:
                retweet["extended_tweet"] = {"full_text": "original " + self._words(20, 40)}
        tweet = {
            "id": tid,
            "text": text,
            "timestamp_ms": str(ts),
            "lang": "en",
            "extended_tweet": ({"full_text": text + " " + self._words(15, 30)}
                               if rng.random() < 0.05 else None),
            "entities": {"hashtags": [{"text": t} for t in tags],
                         "user_mentions": [{"screen_name": m} for m in mentions]},
            "user": {"followers_count": min(int(rng.lognormvariate(6.0, 1.6)), 50_000_000),
                     "screen_name": "author%d" % AUTHORS.draw(rng)},
            "retweeted_status": retweet,
        }
        r = rng.random()
        if r < 0.005:
            del tweet["timestamp_ms"]
        elif r < 0.01:
            tweet["timestamp_ms"] = ""
        return json.dumps(tweet, separators=(",", ":"))


def write_files(gen, directory, n_files, per_file, start_ms, file_event_ms, prefix="part"):
    """n_files files of per_file tweets; file k covers event time
    [start + k*file_event_ms, start + (k+1)*file_event_ms)."""
    os.makedirs(directory, exist_ok=True)
    step = file_event_ms / per_file
    for k in range(n_files):
        base = start_ms + k * file_event_ms
        lines = (gen.line(int(base + i * step)) for i in range(per_file))
        with open(os.path.join(directory, "%s-%05d.jsonl" % (prefix, k)), "w") as f:
            f.write("\n".join(lines) + "\n")


# Three days of event time, starting at 21:00 so the store spans four dates.
REPL_START_MS = EPOCH_MS + 21 * 3_600_000
REPL_HOURS = 72
REPL_FILES = 8
REPL_PER_FILE = 375


# One pass of the REPL mix: all nine commands; narrow (10-minute) and wide
# (3-hour) ranges; hot (rank 1), cold (rank 300) and absent entities; small
# (10) and large (1,000) N. The seed picks the times, so every seed weighs the
# same kinds of work. The order is fixed, as a command's time depends on the
# command before it.
REPL_MIX = (
    ("getsummary",), ("getcounts", "narrow"), ("getcounts", "wide"),
    ("gettopmentionsstring", "narrow", None), ("gettopmentionsstring", "wide", "cold"),
    ("gettophashtagsstring", "wide", "hot"), ("gettophashtagsstring", "narrow", "absent"),
    ("gettopretweetsstring", "wide"),
    ("getrecenttopmentionsstring", "small"), ("getrecenttophashtagsstring", "large"),
    ("getrecenttopretweetsstring", "small"), ("getrecentcounts", "large"))


def repl_commands(rng):
    t0 = REPL_START_MS // 1000
    span_s = REPL_HOURS * 3600

    def when(t):
        # epoch seconds or the ISO form; the REPL accepts both
        if rng.random() < 0.5:
            return str(t)
        return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")

    def time_range(width):
        w = 3 * 3600 if width == "wide" else 600
        s = t0 + 600 + rng.randrange(0, span_s - w - 600, 60)
        return "%s %s" % (when(s), when(s + w))

    def entity(name, ent):
        prefix = "tag" if "hashtags" in name else "user"
        return " %s%s" % (prefix, {"hot": "1", "cold": "300", "absent": "_absent"}[ent])

    out = []
    for c in REPL_MIX:
        name = c[0]
        if name == "getsummary":
            out.append(name)
        elif name.startswith("getrecent"):
            out.append("%s %d" % (name, 10 if c[1] == "small" else 1000))
        else:
            cmd = "%s %s" % (name, time_range(c[1]))
            if len(c) == 3 and c[2]:
                cmd += entity(name, c[2])
            out.append(cmd)
    return out


# The traced run's backlog: a second, denser replay of 24,000 tweets over two
# hours of event time (200 a minute), in 8 files, so the pipeline admits it
# as one micro-batch. Its state and TopK work dominate that batch, where the
# fixed cost per trigger dominates the 3,000-tweet set-up drain.
BACKLOG_START_MS = EPOCH_MS + 9 * 3_600_000
BACKLOG_HOURS = 2
BACKLOG_FILES = 8
BACKLOG_PER_FILE = 3000


def repl_mix(seed, data, trace=False):
    # 8 files of 375 tweets over three days: the pipeline reads up to 8
    # files per trigger, so the drain is one large micro-batch plus the
    # no-data batch that closes the remaining windows, and the store holds
    # two uncompacted batches.
    span_ms = REPL_HOURS * 3_600_000 // REPL_FILES
    write_files(TweetGen(seed, 1_000_000), os.path.join(data, "days"),
                REPL_FILES, REPL_PER_FILE, REPL_START_MS, span_ms)
    rng = random.Random(seed * 7919 + 1)
    with open(os.path.join(data, "commands.txt"), "w") as f:
        f.write("\n".join(repl_commands(rng)) + "\n")
    if trace:
        write_files(TweetGen(seed * 7919 + 2, 5_000_000), os.path.join(data, "backlog"),
                    BACKLOG_FILES, BACKLOG_PER_FILE, BACKLOG_START_MS,
                    BACKLOG_HOURS * 3_600_000 // BACKLOG_FILES)


# The registry workload's fixed query list, sized so that a run fits the
# benchmark's time budget. It avoids the queries that build seed-once stores
# outside the working directory (the op*_store_* queries and ext26). The op
# queries cover JSON parsing, tokenizing, tumbling and hop windows, running
# totals, recent-N and the flagship window-rank pipeline; the ext queries
# are the costliest Dedup entry of the recorded per-query floors (ext135),
# the ProbeScan budget query (ext172) and a quality filter over a relation
# it shares through Reuse (ext67). ext124 would cover Reuse as well, but its
# cold first run takes about 10 s of a run's budget.
REGISTRY_QUERIES = (
    "op04_json_parse", "op15_explode_tokens", "op20_tumbling_counts",
    "op22_hopping_counts", "op28_window_rank", "op31_running_total", "op41_recent",
    "ext135_jaccard_prefix_join", "ext172_budget_select", "ext67_quantile_filter",
)

# Rows per registry table. The TPC-style tables are at about a thousandth
# of the program's sf1; documents and embeddings are smaller than in the
# test tables because the dedup and similarity queries grow faster than
# linearly in them.
REGISTRY_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
                 "events": 2000, "documents": 150, "embeddings": 200}

REGISTRY_SQL = {
    "region": """
      SELECT i::INTEGER AS r_regionkey,
             ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
      FROM range(5) t(i)""",
    "nation": """
      SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
             (i % 5)::INTEGER AS n_regionkey
      FROM range(25) t(i)""",
    "customer": """
      SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
             floor(u(i, 'nat') * 25)::INTEGER AS c_nationkey,
             round(-999.99 + u(i, 'bal') * 10999.98, 2) AS c_acctbal,
             ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
               [1 + floor(u(i, 'seg') * 5)::INTEGER] AS c_mktsegment
      FROM range({customer}) t(i)""",
    "supplier": """
      SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
             floor(u(i, 'nat') * 25)::INTEGER AS s_nationkey,
             round(-999.99 + u(i, 'bal') * 10999.98, 2) AS s_acctbal
      FROM range({supplier}) t(i)""",
    "part": """
      SELECT i AS p_partkey,
             ['small', 'large', 'red', 'blue', 'green', 'steel', 'brass', 'tiny']
               [1 + floor(u(i, 'adj') * 8)::INTEGER] || ' ' ||
             ['ring', 'widget', 'anvil', 'bolt', 'gear', 'pipe', 'valve', 'spring']
               [1 + floor(u(i, 'noun') * 8)::INTEGER] AS p_name,
             'Brand#' || (1 + floor(u(i, 'brand') * 25)::INTEGER) AS p_brand,
             ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
               [1 + floor(u(i, 'type') * 6)::INTEGER] AS p_type,
             (1 + floor(u(i, 'size') * 50))::INTEGER AS p_size,
             round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
      FROM range({part}) t(i)""",
    "orders": """
      SELECT i AS o_orderkey, floor(u(i, 'cust') * {customer})::BIGINT AS o_custkey,
             ['F', 'O', 'P'][1 + floor(u(i, 'st') * 3)::INTEGER] AS o_orderstatus,
             round(1000 + u(i, 'price') * 499000, 2) AS o_totalprice,
             TIMESTAMP '1995-01-01' + to_days(floor(u(i, 'date') * 2400)::INTEGER)
               AS o_orderdate,
             ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
               [1 + floor(u(i, 'prio') * 5)::INTEGER] AS o_orderpriority
      FROM range({orders}) t(i)""",
    # one to seven lines per order
    "lineitem": """
      SELECT o AS l_orderkey, floor(u(o * 8 + n, 'part') * {part})::BIGINT AS l_partkey,
             floor(u(o * 8 + n, 'supp') * {supplier})::BIGINT AS l_suppkey,
             (n + 1)::INTEGER AS l_linenumber, q AS l_quantity,
             round(q * (900 + u(o * 8 + n, 'px') * 1200), 2) AS l_extendedprice,
             floor(u(o * 8 + n, 'disc') * 11) / 100 AS l_discount,
             floor(u(o * 8 + n, 'tax') * 9) / 100 AS l_tax,
             ['A', 'N', 'R'][1 + floor(u(o * 8 + n, 'rf') * 3)::INTEGER] AS l_returnflag,
             ['F', 'O'][1 + floor(u(o * 8 + n, 'ls') * 2)::INTEGER] AS l_linestatus,
             TIMESTAMP '1995-01-02' + to_days(floor(u(o * 8 + n, 'ship') * 2500)::INTEGER)
               AS l_shipdate
      FROM (SELECT o, n, (1 + floor(u(o * 8 + n, 'qty') * 50))::DOUBLE AS q
            FROM range({orders}) a(o), range(7) b(n)
            WHERE n <= floor(u(o, 'lines') * 7))""",
    # thirty days, event time increasing with event_id
    "events": """
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' + to_microseconds(
               floor((i + u(i, 'ts')) * 2592000000000 / {events})::BIGINT) AS ts,
             floor(u(i, 'user') * 150)::BIGINT AS user_id,
             ['click', 'error', 'purchase', 'signup', 'view']
               [1 + floor(u(i, 'type') * 5)::INTEGER] AS event_type,
             round(0.01 + pow(u(i, 'value'), 3) * 490, 2) AS value,
             '{{"k": ' || floor(u(i, 'k') * 100)::INTEGER || '}}' AS props
      FROM range({events}) t(i)""",
    # one document in six is a near copy of an earlier one
    "documents": """
      WITH base AS (
        SELECT i, array_to_string(list_transform(
                 range(8 + floor(u(i, 'len') * 92)::INTEGER),
                 w -> ['a', 'the', 'spark', 'stream', 'window', 'batch', 'table', 'query',
                       'scan', 'join', 'agg', 'sort', 'hash', 'key', 'value', 'row',
                       'column', 'part', 'order', 'line', 'customer', 'data', 'filter',
                       'group', 'merge', 'vector', 'fast', 'slow', 'small', 'big']
                   [1 + floor(u(i * 1000 + w, 'word') * 30)::INTEGER]), ' ') AS text
        FROM range({documents}) t(i))
      SELECT b.i AS doc_id,
             CASE WHEN u(b.i, 'dup') < 1.0 / 6 AND b.i > 0
                  THEN c.text || ' dup' ELSE b.text END AS text,
             CASE WHEN u(b.i, 'lang') < 0.44 THEN 'en'
                  ELSE ['de', 'es', 'fr', 'zh'][1 + floor(u(b.i, 'l2') * 4)::INTEGER]
             END AS lang,
             'src' || (b.i % 20) AS source,
             length(CASE WHEN u(b.i, 'dup') < 1.0 / 6 AND b.i > 0
                         THEN c.text || ' dup' ELSE b.text END)::BIGINT AS n_chars
      FROM base b JOIN base c ON c.i = floor(u(b.i, 'src') * greatest(b.i, 1))""",
    # ten labelled clusters in 64 dimensions
    "embeddings": """
      SELECT i AS vec_id,
             list_transform(range(64),
               d -> ((u((i % 10) * 64 + d, 'c') - 0.5) * 0.6
                     + (u(i * 64 + d, 'n') - 0.5) * 0.2)::FLOAT) AS embedding,
             (i % 10)::INTEGER AS label
      FROM range({embeddings}) t(i)""",
}


def registry(seed, data):
    """The ten tables under data/tables, drawn from the seed, and the query
    list. The list's order is the same for every seed: a query's time
    depends on the query before it, by up to a factor of two (op22 after
    op15 or after op41), and a seeded order made that the largest part of
    the spread between seeds."""
    import duckdb
    out = os.path.join(data, "tables")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    # u(i, salt): a uniform draw in [0, 1) from the seed, a row and a salt
    con.execute("CREATE MACRO u(i, salt) AS hash(i, salt, %d)::DOUBLE / 18446744073709551616.0"
                % seed)
    for name, sql in REGISTRY_SQL.items():
        path = os.path.join(out, name + ".parquet")
        con.execute("COPY (%s ORDER BY ALL) TO '%s' (FORMAT PARQUET)"
                    % (sql.format(**REGISTRY_ROWS), path))
    con.close()
    with open(os.path.join(data, "queries.txt"), "w") as f:
        f.write("\n".join(REGISTRY_QUERIES) + "\n")


def generate(workload, seed, data, trace=False):
    """Inputs of one run; a traced run of repl_mix also gets the backlog."""
    os.makedirs(data, exist_ok=True)
    if workload == "repl_mix":
        repl_mix(seed, data, trace)
    elif workload == "registry":
        registry(seed, data)
    else:
        raise ValueError("unknown workload %s" % workload)
