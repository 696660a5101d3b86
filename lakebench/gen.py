"""Seeded input generators for the lake benchmark.

Every input the engine sees is made here from `--seed`, and the same seed
gives byte-identical files. Each generator also returns its ground truth:
the planted count of every record class, and every record a detection rule
should match, so the checks in `checks.py` compare the engine's output with
what was planted rather than with the engine's own view of the input.

Landing objects are JSON lines of the form {"message": "<raw log line>"},
the envelope a log shipper puts around raw lines; `Ingest` reads landing
objects with the JSON reader, and the managed transforms frame the raw line
from `message`.
"""
import json
import os
import random
from datetime import datetime, timezone

# Epoch of the first generated event hour; seeds shift it by whole days so
# runs with different seeds write different partitions.
BASE_EPOCH = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())

CT_ACTIONS = ["DescribeInstances", "GetObject", "AssumeRole", "ListBuckets",
              "PutObject", "ConsoleLogin", "DescribeSecurityGroups",
              "GetCallerIdentity"]
CT_SOURCES = {"DescribeInstances": "ec2", "GetObject": "s3",
              "AssumeRole": "sts", "ListBuckets": "s3", "PutObject": "s3",
              "ConsoleLogin": "signin", "DescribeSecurityGroups": "ec2",
              "GetCallerIdentity": "sts", "CreateAccessKey": "iam"}
REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "ap-south-1"]
VPC_PORTS = [443, 80, 53, 8080, 3389, 22, 5432, 9200]

# Alert folding shared by every rule (the Alerts.AlertConfig the benchmark
# passes to the engine): an alert activates at THRESHOLD matches of one
# (rule, dedupe) key inside WINDOW_S seconds of its first match.
THRESHOLD = 3
WINDOW_S = 1800

# Planted record classes. Shares are per record; `header` is one per
# VPC flow object, `burst` records are added on top of the background.
# The shares are correctness plants, not a model of real traffic: each is
# large enough that every pass holds many rows of its class, so the checks
# exercise every path (abort, sideline, null-typed, late hour).
SHARES = {"truncated": 0.01, "typebad": 0.01, "late": 0.03}


def _r(rng, lo, hi=None):
    """Uniform integer in [lo, hi) (or [0, lo)); faster than randrange."""
    if hi is None:
        lo, hi = 0, lo
    return lo + int(rng.random() * (hi - lo))


def _ip(rng, prefix="10"):
    return "%s.%d.%d.%d" % (prefix, _r(rng, 256), _r(rng, 256), _r(rng, 1, 255))


def _iso(t):
    return datetime.fromtimestamp(t, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _envelope(raw):
    # generated lines hold no backslashes or control characters
    return '{"message":"' + raw.replace('"', '\\"') + '"}'


def ct_line(rng, t, action, user, src_ip, typebad=False):
    """One CloudTrail record as its raw JSON text. `typebad` plants a
    non-numeric `bytesTransferredIn`, which the cloudtrail table types as
    a long, so schema resolution sidelines the row."""
    uid = "AIDA%08d" % _r(rng, 10 ** 8)
    acct = "1234567890%02d" % _r(rng, 8)
    root = user == "root"
    bytes_in = "n/a" if typebad else str(_r(rng, 0, 50000))
    return ("{\"eventVersion\":\"1.08\",\"eventTime\":\"%s\",\"eventSource\":\"%s.amazonaws.com\","
            "\"eventName\":\"%s\",\"awsRegion\":\"%s\",\"sourceIPAddress\":\"%s\","
            "\"userAgent\":\"aws-cli/2.%d\",\"userIdentity\":{\"type\":\"%s\",\"principalId\":\"%s\","
            "\"arn\":\"arn:aws:iam::%s:%s\",\"accountId\":\"%s\",\"accessKeyId\":\"AKIA%06d\","
            "\"userName\":\"%s\"},\"requestParameters\":{\"userName\":\"%s\"},"
            "\"additionalEventData\":{\"bytesTransferredIn\":\"%s\"},"
            "\"responseElements\":null,\"requestID\":\"r-%d\",\"eventID\":\"e-%d\","
            "\"eventType\":\"AwsApiCall\",\"managementEvent\":true,\"readOnly\":%s,"
            "\"recipientAccountId\":\"%s\"}") % (
        _iso(t), CT_SOURCES[action], action, rng.choice(REGIONS), src_ip,
        _r(rng, 20), "Root" if root else "IAMUser", uid, acct,
        "root" if root else "user/" + user, acct, _r(rng, 10 ** 6), user,
        user, bytes_in, _r(rng, 10 ** 9), _r(rng, 10 ** 9),
        "true" if action.startswith(("Describe", "Get", "List")) else "false", acct)


def vpc_line(rng, t, src, dst, dport, action, typebad=False):
    """One VPC flow v2 record. `typebad` writes '-' for the ports, as
    NODATA flow records do; the managed transform nulls them."""
    sport = "-" if typebad else str(_r(rng, 1024, 65535))
    dp = "-" if typebad else str(dport)
    return "2 1234567890%02d eni-%08x %s %s %s %s 6 %d %d %d %d %s OK" % (
        _r(rng, 8), _r(rng, 16 ** 8), src, dst, sport, dp,
        _r(rng, 1, 200), _r(rng, 40, 200000), t, t + _r(rng, 1, 60),
        action)


VPC_HEADER = ("version account-id interface-id srcaddr dstaddr srcport dstport "
              "protocol packets bytes start end action log-status")


class Source:
    """Generates one source's records over an event-time span and keeps
    its class counts and the records each rule should match."""

    def __init__(self, rng, kind, users, dst_pool):
        self.rng, self.kind, self.users, self.dst_pool = rng, kind, users, dst_pool
        self.counts = {"clean": 0, "truncated": 0, "typebad": 0, "late": 0,
                       "header": 0, "burst": 0}
        self.matches = []  # (rule, dedupe, epoch seconds)

    def record(self, t, late_ok=True):
        """One background record at event time `t` (possibly planted as
        truncated / type-bad / late). Returns the raw line."""
        rng = self.rng
        u = rng.random()
        cls = "clean"
        if self.kind == "ct" and u < SHARES["truncated"]:
            cls = "truncated"
        elif u < SHARES["truncated"] + SHARES["typebad"]:
            cls = "typebad"
        elif late_ok and u < SHARES["truncated"] + SHARES["typebad"] + SHARES["late"]:
            cls = "late"
            t -= _r(rng, 3600, 3 * 3600)
        self.counts[cls] += 1
        # late records never match a rule: a streaming fold sees them after
        # later matches of their key, where anchoring differs from the batch
        # fold by design, so planted matches stay in event-time order
        if self.kind == "ct":
            action = rng.choice(CT_ACTIONS[:5] if cls == "late" else CT_ACTIONS)
            user = "root" if (action == "ConsoleLogin" and rng.random() < 0.05) \
                else rng.choice(self.users)
            src = _ip(rng, "198")
            line = ct_line(rng, t, action, user, src, typebad=cls == "typebad")
            if cls == "truncated":
                return line[: _r(rng, 20, len(line) - 20)]
            if cls != "typebad" and action == "ConsoleLogin" and user == "root":
                self.matches.append(("ct_root_console_login", src, t))
            return line
        src = _ip(rng)
        dport = rng.choice(VPC_PORTS)
        action = "REJECT" if rng.random() < 0.1 and cls != "late" else "ACCEPT"
        if cls != "typebad" and action == "REJECT" and dport == 22:
            self.matches.append(("vpc_ssh_reject", src, t))
        return vpc_line(rng, t, src, rng.choice(self.dst_pool), dport, action,
                        typebad=cls == "typebad")

    def burst(self, t):
        """THRESHOLD+1 matches of one fresh dedupe key within ten minutes:
        one alert that must activate."""
        rng = self.rng
        out = []
        if self.kind == "ct":
            user = "svc-%06d" % _r(rng, 10 ** 6)
            for i in range(THRESHOLD + 1):
                ti = t + i * _r(rng, 30, 150)
                out.append(ct_line(rng, ti, "CreateAccessKey", user, _ip(rng, "198")))
                self.matches.append(("ct_access_key_created", user, ti))
        else:
            src = "172.16.%d.%d" % (_r(rng, 256), _r(rng, 1, 255))
            for i in range(THRESHOLD + 1):
                ti = t + i * _r(rng, 30, 150)
                out.append(vpc_line(rng, ti, src, rng.choice(self.dst_pool), 22, "REJECT"))
                self.matches.append(("vpc_ssh_reject", src, ti))
        self.counts["burst"] += len(out)
        return out


def dst_pool(rng, n=400):
    return [_ip(rng, str(rng.choice([23, 45, 91, 104, 185]))) for _ in range(n)]


def users(rng, n=200):
    return ["user%03d" % i for i in rng.sample(range(1000), n)]


def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")


def make_objects(src, t0, span_s, n_objects, lines_per_object, bursts, late_ok=True):
    """Objects covering [t0, t0+span_s) in event-time order; bursts land
    at `bursts` evenly spaced objects (at most one per object). Returns (lines, truth) per
    object, truth being the object's class counts and planted matches."""
    rng = src.rng
    step = span_s / n_objects
    burst_at = set(int(i * n_objects / bursts) for i in range(bursts)) if bursts else set()
    objects = []
    for k in range(n_objects):
        before, n_matches = dict(src.counts), len(src.matches)
        lo = t0 + int(k * step)
        lines = []
        if src.kind == "vpc":
            lines.append(VPC_HEADER)
            src.counts["header"] += 1
        times = sorted(lo + _r(rng, max(1, int(step))) for _ in range(lines_per_object))
        lines += [src.record(t, late_ok) for t in times]
        if k in burst_at:
            lines += src.burst(lo)
        truth = {c: src.counts[c] - before[c] for c in src.counts}
        truth["matches"] = [list(m) for m in src.matches[n_matches:]]
        objects.append((lines, truth))
    return objects


def ingest_inputs(out_dir, seed, objects_per_source, lines_per_object, bursts_per_source,
                  span_s=6 * 3600, tag=""):
    """Landing objects for both managed sources, written under
    out_dir/<source>/. Returns one truth record per object, in landing
    order: the two sources interleaved, object by object."""
    rng = random.Random("%s/%s" % (seed, tag))
    t0 = BASE_EPOCH + (seed % 300) * 86400
    us, dsts = users(rng), dst_pool(rng)
    per_source = []
    for kind, name in (("ct", "cloudtrail"), ("vpc", "vpcflow")):
        src = Source(random.Random("%s/%s/%s" % (seed, tag, name)), kind, us, dsts)
        objs = make_objects(src, t0, span_s, objects_per_source, lines_per_object,
                            bursts_per_source)
        rows = []
        for k, (lines, truth) in enumerate(objs):
            p = os.path.join(out_dir, name, "obj-%05d.json" % k)
            write_lines(p, [_envelope(l) for l in lines])
            rows.append(dict(truth, source=name, object=os.path.basename(p), lines=len(lines)))
        per_source.append(rows)
    return [o for pair in zip(*per_source) for o in pair]


def hunt_inputs(out_dir, seed, hours, vpc_per_hour, ct_per_hour, writer_hours,
                late_share=0.05):
    """The pre-built lake (landing objects, one per source and hour), the
    writer's per-hour objects (late rows included), a threat-intel CIDR
    feed and its feed metadata."""
    rng = random.Random("%s/hunt" % seed)
    t0 = BASE_EPOCH + (seed % 300) * 86400
    us, dsts = users(rng), dst_pool(rng)
    ct = Source(random.Random("%s/hunt/ct" % seed), "ct", us, dsts)
    vpc = Source(random.Random("%s/hunt/vpc" % seed), "vpc", us, dsts)
    truth = {"t0": t0, "hours": hours, "lake": {}, "writer": []}
    for h in range(hours):
        lo = t0 + h * 3600
        for src, n, name in ((vpc, vpc_per_hour, "vpcflow"), (ct, ct_per_hour, "cloudtrail")):
            times = sorted(lo + _r(rng, 3600) for _ in range(n))
            lines = [src.record(t, late_ok=False) for t in times]
            if h % 6 == 0:
                lines += src.burst(lo + 600)
            write_lines(os.path.join(out_dir, "lake", name, "h%03d.json" % h),
                        [_envelope(l) for l in lines])
    truth["lake"] = {"cloudtrail": ct.counts, "vpcflow": vpc.counts}
    # the writer's hours follow the pre-built ones; a late share of each
    # append belongs to the previous hour
    wvpc = Source(random.Random("%s/hunt/writer" % seed), "vpc", us, dsts)
    for w in range(writer_hours):
        h = hours + w
        lo = t0 + h * 3600
        lines, before = [], dict(wvpc.counts)
        for _ in range(vpc_per_hour):
            late = rng.random() < late_share
            t = lo - _r(rng, 1, 3600) if late else lo + _r(rng, 3600)
            lines.append(wvpc.record(t, late_ok=False))
        p = os.path.join(out_dir, "writer", "w%03d.json" % w)
        write_lines(p, [_envelope(l) for l in lines])
        truth["writer"].append(dict({c: wvpc.counts[c] - before[c] for c in wvpc.counts},
                                    object=os.path.basename(p), lines=len(lines)))
    truth["writer_counts"] = wvpc.counts
    # threat intel: CIDR ranges over part of the destination pool
    feeds = ["abuse-ch", "spamhaus", "emerging", "internal-hunt"]
    cidrs = []
    for i in range(60):
        ip = rng.choice(dsts).split(".")
        bits = rng.choice([16, 20, 24, 28])
        cidrs.append({"cidr": "%s.%s.%s.0/%d" % (ip[0], ip[1], ip[2], bits),
                      "feed": rng.choice(feeds), "indicator": "ind-%03d" % i})
    write_lines(os.path.join(out_dir, "intel", "cidrs.json"),
                [json.dumps(c, sort_keys=True) for c in cidrs])
    write_lines(os.path.join(out_dir, "intel", "feeds.json"),
                [json.dumps({"feed": f, "severity": s}, sort_keys=True)
                 for f, s in zip(feeds, ["high", "medium", "low", "high"])])
    return truth


def fold_alerts(matches):
    """The anchored-window alert fold (Alerts.foldKey's semantics) over
    planted matches: per (rule, dedupe), sorted by time, a match joins the
    open alert iff it lies within WINDOW_S of the alert's first match.
    Returns {alert_id: (rule, dedupe, first, count, activated)}."""
    import hashlib
    by_key = {}
    for rule, dedupe, t in matches:
        by_key.setdefault((rule, dedupe), []).append(t)
    out = {}
    for (rule, dedupe), ts in by_key.items():
        ts.sort()
        groups = []
        for t in ts:
            if groups and t < groups[-1][0] + WINDOW_S:
                groups[-1][1] += 1
            else:
                groups.append([t, 1])
        for first, n in groups:
            aid = hashlib.md5(("%s|%s|%d" % (rule, dedupe, first * 1000)).encode()).hexdigest()
            out[aid] = (rule, dedupe, first, n, n >= THRESHOLD)
    return out
