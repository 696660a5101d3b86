"""Output checks for the lake benchmark.

Each check compares what a run committed with the generator's planted
truth or with DuckDB over the same files; each returns a list of failure
messages (empty when the check passed) and counts as one operation.
"""
import glob
import json
import math
import os
import struct

import gen


def _latest_files(table):
    """Data files of a snapshot table's newest manifest."""
    meta = os.path.join(table, "_graft_lake")
    latest = max(int(f[1:7]) for f in os.listdir(meta) if f.endswith(".manifest"))
    return _manifest_files(table, latest)


def _scan(files):
    return "read_parquet(%s, hive_partitioning = true)" % json.dumps(files).replace('"', "'")


def ingest(out_dir, prior_table, objects):
    """Lake rows plus sidelined rows must equal the generated records,
    class by class, and the alerts committed on top of the prior ones must
    equal the alert fold over the planted matches."""
    import duckdb
    con = duckdb.connect()
    fails = []
    tot = {}
    for o in objects:
        t = tot.setdefault(o["source"], {})
        for k, v in o.items():
            if isinstance(v, int):
                t[k] = t.get(k, 0) + v
    ct, vpc = tot.get("cloudtrail", {}), tot.get("vpcflow", {})

    def lake(src, where="true"):
        files = glob.glob(os.path.join(out_dir, "lake", src, "*", "*.parquet"))
        return con.execute("SELECT count(*) FROM %s WHERE %s" % (_scan(files), where)
                           ).fetchone()[0] if files else 0

    def sidelined(src):
        n = 0
        for f in glob.glob(os.path.join(out_dir, "side", src, "**", "*.json"), recursive=True):
            with open(f) as fh:
                n += sum(1 for l in fh if l.strip())
        return n

    measured = {
        "lake_rows.cloudtrail": lake("cloudtrail"),
        "sidelined_rows.cloudtrail": sidelined("cloudtrail"),
        "lake_rows.vpcflow": lake("vpcflow"),
        "lake_rows_null_port.vpcflow": lake("vpcflow", "destination.port IS NULL"),
        "sidelined_rows.vpcflow": sidelined("vpcflow"),
    }
    expect = {
        "lake_rows.cloudtrail": ct.get("clean", 0) + ct.get("late", 0) + ct.get("burst", 0),
        "sidelined_rows.cloudtrail": ct.get("typebad", 0),
        "lake_rows.vpcflow": vpc.get("clean", 0) + vpc.get("late", 0) + vpc.get("burst", 0)
        + vpc.get("typebad", 0),
        "lake_rows_null_port.vpcflow": vpc.get("typebad", 0),
        "sidelined_rows.vpcflow": 0,
    }
    for k, v in expect.items():
        if measured[k] != v:
            fails.append("%s: %s = %s, planted %s" % (out_dir, k, measured[k], v))
    prior = {r[0] for r in con.execute(
        "SELECT alert_id FROM %s" % _scan(_latest_files(prior_table))).fetchall()}
    got = {a: (n, act) for a, n, act in con.execute(
        "SELECT alert_id, match_count, activated FROM %s"
        % _scan(_latest_files(os.path.join(out_dir, "alerts")))).fetchall() if a not in prior}
    planted = gen.fold_alerts([tuple(m) for o in objects for m in o["matches"]])
    want = {a: (v[3], v[4]) for a, v in planted.items()}
    if got != want:
        missing = len(set(want) - set(got))
        extra = len(set(got) - set(want))
        differ = sum(1 for a in set(got) & set(want) if got[a] != want[a])
        fails.append("%s: alerts differ from the planted fold: %d missing, %d extra, "
                     "%d with other counts (of %d)" % (out_dir, missing, extra, differ, len(want)))
    return fails


def _manifest_files(table, version):
    path = os.path.join(table, "_graft_lake", "v%06d.manifest" % version)
    out = []
    with open(path) as fh:
        for line in fh:
            if line.startswith("#") or "\t" not in line:
                continue
            out.append(os.path.join(table, line.rstrip("\n").split("\t")[1]))
    return out


def _cidr_bounds(cidr):
    base, bits = cidr.split("/")
    a, b, c, d = (int(x) for x in base.split("."))
    n = ((a * 256 + b) * 256 + c) * 256 + d
    span = 2 ** (32 - int(bits))
    lo = n - n % span
    return lo, lo + span - 1


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc, v):
    return (_rotl((acc + v * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data, seed=42):
    """XXH64 of `data` (bytes) with Spark's default seed: the hash Spark's
    `xxhash64` gives a string column's UTF-8 bytes."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(a, w) for a, w in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((struct.unpack_from("<I", data, i)[0] * _P1) & _M64), 23) * _P2
             + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def hll_estimate(values, p=12):
    """The distinct-count estimate `Hll.approxDistinct` must give for these
    string values: HyperLogLog over xxhash64 (the top p bits pick the
    register, the leading zeros of the rest plus one are its rank), with
    the linear-counting switch below 2.5 m, summed in register order."""
    m = 1 << p
    regs = [0] * m
    for v in values:
        h = xxhash64(v.encode("utf-8"))
        w = (h << p) & _M64
        rank = min(64 - w.bit_length() if w else 64, 64 - p) + 1
        regs[h >> (64 - p)] = max(regs[h >> (64 - p)], rank)
    inv = 0.0
    for r in regs:
        inv += 1.0 / float(1 << r)
    raw = (0.7213 / (1.0 + 1.079 / m)) * m * m / inv
    zeros = regs.count(0)
    return m * math.log(m / zeros) if raw <= 2.5 * m and zeros > 0 else raw


def _canon(rows):
    return sorted((tuple(json.dumps(c, sort_keys=True) for c in r) for r in rows))


def hunt(work, inputs):
    """Each analyst query must equal DuckDB over every file of the snapshot
    it pinned (a distinct count equals the sketch's estimate recomputed
    from DuckDB's values; quantiles lie within their rank error), and every
    row the writer had acknowledged must be readable at the end."""
    import duckdb
    con = duckdb.connect()
    fails, n = [], 0
    with open(os.path.join(work, "hunt_writer.json")) as fh:
        writer = json.load(fh)
    tables = writer["tables"]
    cidrs = [json.loads(l) for l in open(os.path.join(inputs, "intel", "cidrs.json"))]
    feeds = {json.loads(l)["feed"]: json.loads(l)["severity"]
             for l in open(os.path.join(inputs, "intel", "feeds.json"))}
    intel = [(c["indicator"], feeds[c["feed"]], c["cidr"], c["feed"]) + _cidr_bounds(c["cidr"])
             for c in cidrs]
    con.execute("CREATE TABLE intel (indicator VARCHAR, severity VARCHAR, cidr VARCHAR, "
                "feed VARCHAR, lo BIGINT, hi BIGINT)")
    con.executemany("INSERT INTO intel VALUES (?, ?, ?, ?, ?, ?)", intel)
    for line in open(os.path.join(work, "hunt_queries.jsonl")):
        if not line.strip():
            continue
        q = json.loads(line)
        n += 1
        scan = _scan(_manifest_files(tables[q["table"]], q["version"]))
        p, t = q["params"], q["template"]
        if t == "hour_agg":
            sql = ("SELECT destination.port, count(*), sum(network.bytes) FROM %s "
                   "WHERE ts_hour IN (%s) GROUP BY 1" % (
                       scan, ",".join("'%s'" % h for h in p["hours"])))
        elif t == "key_probe":
            sql = ("SELECT src_ip_num, count(*) FROM %s WHERE src_ip_num IN (%s) GROUP BY 1"
                   % (scan, ",".join(str(k) for k in p["keys"])))
        elif t == "distinct_hll":
            sql = ("SELECT event.action, list(DISTINCT source.address) FROM %s "
                   "WHERE epoch(ts) >= %d AND epoch(ts) < %d GROUP BY 1"
                   % (scan, p["from"], p["to"]))
        elif t == "quantiles":
            sql = ("SELECT destination.port, list(network.bytes ORDER BY network.bytes) FROM %s "
                   "WHERE epoch(ts) >= %d AND epoch(ts) < %d GROUP BY 1"
                   % (scan, p["from"], p["to"]))
        elif t == "cidr_enrich":
            sql = ("WITH f AS (SELECT row_number() OVER () AS fid, dst_ip_num FROM %s "
                   "WHERE ts_hour IN (%s)), "
                   "m AS (SELECT f.fid, i.indicator, i.severity, row_number() OVER ("
                   "PARTITION BY f.fid ORDER BY i.hi - i.lo, i.lo, i.cidr, i.feed, i.indicator"
                   ") AS rk FROM f JOIN intel i ON f.dst_ip_num BETWEEN i.lo AND i.hi) "
                   "SELECT indicator, severity, count(*) FROM m WHERE rk = 1 GROUP BY 1, 2"
                   % (scan, ",".join("'%s'" % h for h in p["hours"])))
        elif t == "alert_context":
            sql = ("SELECT event.action, count(*) FROM %s WHERE epoch(ts) >= %d AND "
                   "epoch(ts) < %d AND \"user\".name = '%s' GROUP BY 1"
                   % (scan, p["from"], p["to"], p["user"]))
        else:
            fails.append("unknown hunt template %s" % t)
            continue
        exp = con.execute(sql).fetchall()
        got = q["rows"]
        if t == "distinct_hll":
            # the sketch's own estimate over DuckDB's distinct values, to
            # rounding: the estimate is a function of the value set, and
            # its error against the exact count (a register collision can
            # cost several percent on a small group) is the sketch's, not
            # a fault
            e = {a: hll_estimate([v for v in vals if v is not None]) for a, vals in exp}
            ok = len(got) == len(e) and all(
                r[0] in e and abs(r[1] - e[r[0]]) <= 1e-9 * max(1.0, e[r[0]]) for r in got)
        elif t == "quantiles":
            e = dict(exp)
            ok = len(got) == len(e)
            for port, qs in got:
                vals = e.get(port)
                if not ok or vals is None:
                    ok = False
                    break
                for level, est in zip((0.5, 0.9), qs):
                    rank = sum(1 for v in vals if v <= est) / len(vals)
                    ok = ok and abs(rank - level) <= 0.05 + 1.0 / len(vals)
        else:
            ok = _canon(got) == _canon([list(r) for r in exp])
        if not ok:
            fails.append("hunt %s %s: result differs from DuckDB" % (t, json.dumps(p)))
    # every acknowledged writer row is readable in the final snapshot: each
    # acked append committed its object's planted lake rows (VPC flow keeps
    # type-bad rows, with null ports), and the final count is the pre-built
    # lake's planted rows plus those of the acked objects
    with open(os.path.join(inputs, "truth.json")) as fh:
        truth = json.load(fh)
    planted = {o["object"]: _lake_rows(o) for o in truth["writer"]}
    for a in writer["acked"]:
        n += 1
        want = planted.get(os.path.basename(a["path"]))
        if a["rows"] != want:
            fails.append("hunt: writer append %s acked %d rows, planted %s"
                         % (a["path"], a["rows"], want))
    have = con.execute("SELECT count(*) FROM %s"
                       % _scan(_latest_files(tables["vpcflow"]))).fetchone()[0]
    want = _lake_rows(truth["lake"]["vpcflow"]) + sum(
        planted.get(os.path.basename(a["path"]), 0) for a in writer["acked"])
    n += 1
    if have != want:
        fails.append("hunt: %d rows readable at the end, %d planted in the pre-built lake "
                     "and the acked appends" % (have, want))
    return n, fails


def _lake_rows(counts):
    """VPC flow rows a lake keeps of planted class counts: all but the
    truncated lines and headers, which the transform aborts."""
    return sum(counts.get(c, 0) for c in ("clean", "typebad", "late", "burst"))
