"""Seeded input generators and the expected-output calculator.

Pure Python, no Spark: the engine only ever sees the files written
here, and the expectations are computed from the same generated
records, independently of the engine's code.

Kayvee lines follow the wire shape
``<ts> <host> <programname>[<pid>]: <body>`` and cover every branch
the sink path sees: ``_kvmeta`` alert routes (1-3 per record, some
routes of a non-alert type), the process-metrics global rule with the
``guage`` typo, raw mongo slow-query lines, RDS slow queries,
allowlisted CloudWatch series with ``region``/``pod-region``, ignored
records, and about 5% malformed or wrong-typed records that must land
in quarantine.

Documents for the dedup workload draw words from a Zipf vocabulary, so
frequent shingles make some MinHash buckets hot. New documents carry
planted near-duplicates and exact duplicates of corpus documents.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
import zlib
from dataclasses import dataclass, field

# Reference semantics the calculator encodes (see the package's
# operators.routing / operators.project docstrings for citations).
DEFAULT_DIMS = ("Hostname", "env")
CW_ALLOWLIST = frozenset({"ContainerExitCount"})
DEPLOY_ENV = "production"

_SERIES = ("api.requests", "api.latency", "job.duration", "queue.depth",
           "ContainerExitCount")
# The CloudWatch series is rare, as allowlisted series are: each CW
# chunk of 20 data is its own submit call.
_SERIES_WEIGHTS = (25, 25, 25, 24, 1)
_DIM_POOL = ("district", "flag", "bucket", "shard", "absent_dim")
_HOSTS = tuple(f"host-{i}" for i in range(12))
_APPS = tuple(f"app{i}" for i in range(6))
_ENVS = ("production", "staging")
_TEAMS = ("eng", "ops", "data")
_REGIONS = ("us-west-1", "us-east-1", "eu-west-1")
_PM_TITLES = ("cpu", "mem", "gc", "threads")
_MONGO_OPS = ("query", "update", "remove")
_BASE_EPOCH = 1767225600  # 2026-01-01T00:00:00Z


def ts_text(epoch_s: int) -> str:
    """Syslog header time, second precision, read as UTC by the engine."""
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S")


def tag_hash(tags: list[str]) -> int:
    return zlib.crc32(",".join(tags).encode())


@dataclass
class Expected:
    """Totals the sinks must hold after a drain.

    ``dd`` maps (metric, mtype) to [points, value sum, ts sum, tag-hash
    sum]; ``volume`` maps (env, app, team) to [records, bytes]."""

    records: int = 0
    dd: dict = field(default_factory=dict)
    quarantine: int = 0
    cw_rows: int = 0
    cw_value: float = 0.0
    volume: dict = field(default_factory=dict)

    @property
    def dd_points(self) -> int:
        return sum(v[0] for v in self.dd.values())

    def _point(self, metric, mtype, tags, ts, value) -> None:
        acc = self.dd.setdefault((metric, mtype), [0, 0.0, 0, 0])
        acc[0] += 1
        acc[1] += value
        acc[2] += ts
        acc[3] += tag_hash(tags)

    def _volume(self, env, app, team, nbytes) -> None:
        key = tuple(x if x else "unknown" for x in (env, app, team))
        acc = self.volume.setdefault(key, [0, 0])
        acc[0] += 1
        acc[1] += nbytes


def _fmt_dim(v) -> str:
    """Go's dimension coercion: string as-is, number %.0f, bool text.
    (Other JSON types quarantine the record; clean records have none.)"""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    return f"{v:.0f}"


class KayveeGen:
    """Kayvee line source. ``file_rng(f)`` is the generator of file
    ``f``; ``account`` adds a line's expected outputs to an
    :class:`Expected`."""

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def file_rng(self, f: int) -> random.Random:
        return random.Random(self.seed * 1_000_003 + f)

    def record(self, r: random.Random, i: int,
               epoch_s: int) -> tuple[str, dict]:
        """(line, spec) for line ``i`` drawn from ``r``; spec holds what
        the calculator needs."""
        host = r.choice(_HOSTS)
        env, app = r.choice(_ENVS), r.choice(_APPS)
        prog = f"{env}--{app}/arn%3Aaws%3Aecs%3A{r.randrange(100)}"
        ts = ts_text(epoch_s)
        u = r.random()
        if u < 0.55:
            return self._kv(r, i, ts, epoch_s, host, prog, env, app)
        if u < 0.70:
            return self._process_metrics(r, ts, epoch_s, host, prog, env, app)
        if u < 0.80:
            return self._mongo(r, i, ts, epoch_s, host)
        if u < 0.83:
            return self._rds(r, ts, epoch_s)
        if u < 0.95:
            body = {"level": "info", "msg": f"request {i} done",
                    "team": r.choice(_TEAMS)}
            if r.random() < 0.5:
                body["_kvmeta"] = {"team": "ops", "kv_version": "1",
                                   "kv_language": "go", "routes": [
                                       {"type": "notifications",
                                        "channel": "#ops",
                                        "rule": "notify-ops"}]}
            line = f"{ts} {host} {prog}[7]: {json.dumps(body)}"
            return line, {"kind": "ignored", "env": env, "app": app,
                          "team": body["team"]}
        return self._bad(r, i, ts, epoch_s, host, prog, env, app)

    def _kv(self, r, i, ts, epoch_s, host, prog, env, app, bad=None):
        body: dict = {"value": round(r.uniform(0, 500), 2),
                      "district": f"d{r.randrange(4)}",
                      "flag": r.random() < 0.5,
                      "bucket": r.randrange(40),
                      # never an exact .5: Go rounds %.0f half-even,
                      # Java half-up
                      "shard": round(r.randrange(90) / 10 + 0.03, 2)}
        if r.random() < 0.5:
            body["latency"] = round(r.uniform(1, 90), 3)
        if r.random() < 0.3:
            body["env"] = env
        u = r.random()
        if u < 0.3:
            body["region"] = r.choice(_REGIONS)
        elif u < 0.4:
            body["pod-region"] = r.choice(_REGIONS)
        body_team = r.choice(_TEAMS) if r.random() < 0.5 else None
        if body_team:
            body["team"] = body_team
        routes = []
        for k in range(r.randint(1, 3)):
            dims = [d for d in _DIM_POOL if r.random() < 0.4]
            routes.append({
                "type": "alerts",
                "series": r.choices(_SERIES, _SERIES_WEIGHTS)[0],
                "dimensions": dims,
                "stat_type": r.choice(("counter", "gauge")),
                "value_field": r.choice(("value", "latency", None)),
                "rule": f"rule-{k}",
            })
        if r.random() < 0.2:
            routes.insert(r.randrange(len(routes) + 1), {
                "type": "notifications", "channel": "#alerts",
                "rule": "notify"})
        kvmeta_team = r.choice(_TEAMS)
        body["_kvmeta"] = {"team": kvmeta_team, "kv_version": "2.1",
                           "kv_language": "python", "routes": routes}
        if bad == "value":
            body["value"] = str(body["value"])
            for rt in routes:
                if rt["type"] == "alerts":
                    rt["value_field"] = "value"
        elif bad == "dim":
            body["district"] = {"nested": True}
            for rt in routes:
                if rt["type"] == "alerts":
                    rt["dimensions"] = ["district"] + [
                        d for d in rt.get("dimensions", []) if d != "district"]
        if bad == "ts":
            ts = "yesterday-ish"
        line = f"{ts} {host} {prog}[{r.randrange(1, 9999)}]: {json.dumps(body)}"
        return line, {"kind": "bad" if bad else "kv", "body": body,
                      "host": host, "env": env, "app": app,
                      "epoch": epoch_s}

    def _process_metrics(self, r, ts, epoch_s, host, prog, env, app):
        body = {"via": "process-metrics", "source": f"src{r.randrange(3)}",
                "title": r.choice(_PM_TITLES),
                "type": r.choice(("gauge", "guage", "counter")),
                "value": round(r.uniform(0, 100), 2)}
        line = f"{ts} {host} {prog}[3]: {json.dumps(body)}"
        return line, {"kind": "pm", "body": body, "host": host, "env": env,
                      "app": app, "epoch": epoch_s}

    def _mongo(self, r, i, ts, epoch_s, host):
        op = r.choice(_MONGO_OPS)
        ns = f"db{r.randrange(3)}.coll{r.randrange(5)}"
        plan = "COLLSCAN" if r.random() < 0.25 else "IXSCAN { _id: 1 }"
        millis = r.randrange(100, 5000)
        mhost = f"mongo-{r.randrange(3)}"
        raw = f"[conn{i}] {op} {ns} planSummary: {plan} {millis}ms"
        line = f"{ts} {mhost} mongod[11]: {raw}"
        return line, {"kind": "mongo", "host": mhost, "op": op, "ns": ns,
                      "collscan": plan == "COLLSCAN", "millis": millis,
                      "epoch": epoch_s}

    def _rds(self, r, ts, epoch_s):
        prog = f"rds-db{r.randrange(3)}"
        body = {"user": r.choice(("app[app]", "etl[etl]",
                                  "rdsadmin[rdsadmin]"))}
        if r.random() < 0.5:
            body["value"] = round(r.uniform(0, 30), 2)
        line = f"{ts} aws-rds {prog}[5]: {json.dumps(body)}"
        return line, {"kind": "rds", "body": body, "prog": prog,
                      "epoch": epoch_s}

    def _bad(self, r, i, ts, epoch_s, host, prog, env, app):
        u = r.random()
        if u < 0.25:
            line = f"garbled-{i} no syslog header here"
            return line, {"kind": "bad", "env": "", "app": "", "team": ""}
        return self._kv(r, i, ts, epoch_s, host, prog, env, app,
                        bad="value" if u < 0.5 else "dim" if u < 0.75
                        else "ts")

    def account(self, exp: Expected, line: str, spec: dict) -> None:
        """Add one record's expected sink and rollup outputs."""
        exp.records += 1
        nbytes = len(line.encode())
        kind = spec["kind"]
        body = spec.get("body", {})
        team = spec.get("team")
        if "body" in spec:
            bt = body.get("team")
            team = bt if isinstance(bt, str) and bt else \
                body.get("_kvmeta", {}).get("team")
        # mongod / rds-db<k> programnames carry no env--app, and their
        # bodies no team: they roll up as unknown
        exp._volume(spec.get("env", ""), spec.get("app", ""), team or "",
                    nbytes)
        if kind == "ignored":
            return
        if kind == "bad":
            exp.quarantine += 1
            return
        env = body.get("env", DEPLOY_ENV)
        if kind == "mongo":
            tags = [f"hostname:{spec['host']}", f"operation:{spec['op']}",
                    f"namespace:{spec['ns']}",
                    f"is_collscan:{'true' if spec['collscan'] else 'false'}"]
            exp._point("kv.mongo.slow-query", "count", tags, spec["epoch"], 1.0)
            exp._point("kv.mongo.slow-query-millis", "gauge", tags,
                       spec["epoch"], float(spec["millis"]))
            return
        if kind == "rds":
            if body["user"] == "rdsadmin[rdsadmin]":
                return
            tags = [f"env:{env}", f"programname:{spec['prog']}"]
            exp._point("kv.rds.slow-query", "count", tags, spec["epoch"],
                       float(body.get("value", 1.0)))
            return
        fields = dict(body)
        fields.pop("_kvmeta", None)
        fields.update(Hostname=spec["host"], hostname=spec["host"], env=env)
        if kind == "pm":
            mtype = "gauge" if body["type"] in ("gauge", "guage") else "count"
            tags = [f"Hostname:{spec['host']}", f"env:{env}",
                    f"source:{body['source']}"]
            exp._point(f"kv.process-metrics.{body['title']}", mtype, tags,
                       spec["epoch"], float(body["value"]))
            return
        # kvmeta alert routes
        region = body.get("region") or body.get("pod-region")
        routes = [rt for rt in body["_kvmeta"]["routes"]
                  if rt["type"] == "alerts"]
        for rt in routes:
            tags = []
            for d in list(rt["dimensions"]) + list(DEFAULT_DIMS):
                if d not in fields:
                    continue
                tags.append(f"{d}:{_fmt_dim(fields[d])}")
            vf = rt["value_field"]
            if vf is not None and vf in fields:
                value = float(fields[vf])
            else:
                value = 1.0 if rt["stat_type"] == "counter" else 0.0
            mtype = "count" if rt["stat_type"] == "counter" else "gauge"
            exp._point(f"kv.{rt['series']}", mtype, tags, spec["epoch"], value)
            if rt["series"] in CW_ALLOWLIST and region:
                exp.cw_rows += 1
                exp.cw_value += value


def write_kayvee_files(gen: KayveeGen, out_dir: str, n_files: int,
                       lines_per_file: int) -> Expected:
    """Write ``n_files`` files of ``lines_per_file`` lines each into
    ``out_dir``, stamped 100 lines per second from 2026-01-01. Returns
    their expected outputs."""
    os.makedirs(out_dir, exist_ok=True)
    exp = Expected()
    i = 0
    for f in range(n_files):
        r = gen.file_rng(f)
        buf = []
        for _ in range(lines_per_file):
            line, spec = gen.record(r, i, _BASE_EPOCH + i // 100)
            gen.account(exp, line, spec)
            buf.append(line)
            i += 1
        with open(os.path.join(out_dir, f"part-{f:05d}.txt"), "w") as fh:
            fh.write("\n".join(buf) + "\n")
    return exp


# ------------------------------------------------------------ documents


class ZipfWords:
    """Word sampler with P(rank k) proportional to 1/k^s."""

    def __init__(self, vocab: int = 5000, s: float = 1.1) -> None:
        self.words = [f"w{k}" for k in range(vocab)]
        self.cdf = list(itertools.accumulate(1.0 / (k + 1) ** s
                                             for k in range(vocab)))

    def sample(self, r: random.Random, n: int) -> list[str]:
        total = self.cdf[-1]
        return [self.words[bisect.bisect_left(self.cdf, r.random() * total)]
                for _ in range(n)]


def shingles(text: str, n: int) -> set[str]:
    toks = text.split()
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


@dataclass
class DocSet:
    corpus: list[tuple[int, str]]
    new: list[tuple[int, str]]
    # planted (old_id, new_id) pairs whose exact Jaccard >= threshold
    planted: set


# Share of new docs that copy a corpus doc, and the first new doc id.
DUP_SHARE = 0.5
NEW_ID_BASE = 10_000_000


def make_docs(seed: int, n_corpus: int, n_new: int, shingle: int,
              threshold: float) -> DocSet:
    """Corpus + new docs. A ``DUP_SHARE`` of the new docs copy a corpus
    doc: a quarter verbatim, the rest with 1-4 words replaced, so the
    planted pairs spread over the Jaccard range above the threshold."""
    r = random.Random(seed)
    zipf = ZipfWords()
    corpus = [(i, " ".join(zipf.sample(r, r.randint(30, 80))))
              for i in range(n_corpus)]
    new, planted = [], set()
    for j in range(n_new):
        nid = NEW_ID_BASE + j
        if r.random() < DUP_SHARE:
            oid, text = corpus[r.randrange(n_corpus)]
            toks = text.split()
            if r.random() >= 0.25:
                for _ in range(r.randint(1, 4)):
                    toks[r.randrange(len(toks))] = zipf.sample(r, 1)[0]
            t = " ".join(toks)
            new.append((nid, t))
            if jaccard(text, t, shingle) >= threshold:
                planted.add((oid, nid))
        else:
            new.append((nid, " ".join(zipf.sample(r, r.randint(30, 80)))))
    return DocSet(corpus, new, planted)
