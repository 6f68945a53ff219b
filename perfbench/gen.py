"""Seeded input generator for the security-lake benchmark.

Everything the benchmark feeds the program comes from here, derived
only from the seed: raw objects for four shipped log-source packs
(okta, aws_cloudtrail, aws_vpcflow, zeek/dns), a threat-intel table
(IOC addresses and CIDR blocks) and a curation corpus in the
`documents`/`embeddings` layout. Alongside the bytes it records the
tallies the correctness checks compare against.

Determinism: every random draw comes from a `random.Random` seeded
with a string built from the seed and the item's position, gzip
members carry mtime 0 and no file name, and parquet files are written
without statistics that depend on the clock, so one seed gives
byte-identical files.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

# 2024-05-01T00:00:00Z: every generated event lies in this day.
BASE_EPOCH = 1714521600
HOUR_S = 3600
MALFORMED_SHARE = 0.01

OKTA_EVENTS_PER_BATCH = 400
CLOUDTRAIL_OBJECTS_PER_BATCH = 8
CLOUDTRAIL_RECORDS_PER_OBJECT = 50
VPCFLOW_LINES_PER_BATCH = 400
DNS_LINES_PER_BATCH = 400

VPC_HEADER = (
    "version account-id interface-id srcaddr dstaddr srcport dstport "
    "protocol packets bytes start end action log-status"
)
EVIL_DOMAIN = "evil-c2.example"
N_USERS = 120
N_ATTACKERS = 300
ZIPF_S = 1.2
# Traffic shares. None is measured from real traffic: the sizes above fit
# the run-time budget on 4 cores and the shares below are chosen so the
# detections match at a low rate (a few percent of okta and cloudtrail
# events) while a few brute-force keys still reach their threshold.
OKTA_TYPO_SHARE = 0.02  # failed logins by users from their own addresses
OKTA_ATTACK_SHARE = 0.02  # attempts inside brute-force bursts from attackers
BURST_ATTEMPTS = (2, 9)  # attempts per burst, uniform
BURST_GAP_S = (5, 120)  # seconds between a burst's attempts, uniform
CLOUDTRAIL_ROOT_SHARE = 0.03
CLOUDTRAIL_ATTACKER_SHARE = 0.05
VPCFLOW_ATTACKER_SHARE = 0.1
DNS_C2_SHARE = 0.03
# The Sigma rule the detect workload adds to the shipped detections.
SIGMA_RULE = {
    "title": "zeek_dns_c2_domain",
    "logsource": {"product": "zeek", "service": "dns"},
    "detection": {
        "selection": {"dns.question.name|endswith": "." + EVIL_DOMAIN},
        "condition": "selection",
    },
    "level": "high",
}


def rng_for(seed: int, *parts: object) -> random.Random:
    return random.Random(":".join(str(p) for p in (seed, *parts)))


def stable_id(*parts: object) -> str:
    return hashlib.md5(":".join(str(p) for p in parts).encode()).hexdigest()


def id_checksum(ids) -> int:
    """Order-independent 64-bit checksum of a multiset of string ids."""
    total = 0
    for i in ids:
        total += int(hashlib.md5(i.encode()).hexdigest()[:16], 16)
    return total % (1 << 64)


def hour_key(epoch: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).strftime(
        "%Y-%m-%d-%H"
    )


def iso(epoch: float) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3] + "Z"


def gzip_bytes(text: str) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0, filename="") as g:
        g.write(text.encode())
    return buf.getvalue()


def write_bytes(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


# -- entities ---------------------------------------------------------------


@dataclass
class World:
    """Seeded users, address pools and the threat-intel tables."""

    seed: int
    users: list[str]
    attackers: list[str]  # Zipf-ranked: attackers[0] is the hottest
    attacker_cum_weights: list[float]
    benign_ips: list[str]
    iocs: list[tuple[str, str, int]]  # (ip, threat, confidence)
    cidrs: list[tuple[str, str]]  # (cidr, net_name)

    def attacker(self, rng: random.Random) -> str:
        return rng.choices(self.attackers, cum_weights=self.attacker_cum_weights)[0]


def _public_ip(rng: random.Random) -> str:
    while True:
        a = rng.randint(11, 223)
        if a not in (10, 100, 127, 169, 172, 192, 198, 203):
            return f"{a}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"


def make_world(seed: int) -> World:
    rng = rng_for(seed, "world")
    users = [f"user{i:03d}" for i in range(N_USERS)]
    seen: set[str] = set()
    attackers: list[str] = []
    while len(attackers) < N_ATTACKERS:
        ip = _public_ip(rng)
        if ip not in seen:
            seen.add(ip)
            attackers.append(ip)
    cum, acc = [], 0.0
    for r in range(N_ATTACKERS):
        acc += 1.0 / (r + 1) ** ZIPF_S
        cum.append(acc)
    benign = [f"10.{rng.randint(0, 15)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}" for _ in range(200)]
    # IOC list: a few hot attackers, some cold ones, some never seen
    ioc_ips = attackers[:4] + rng.sample(attackers[4:], 20)
    while len(ioc_ips) < 40:
        ip = _public_ip(rng)
        if ip not in seen:
            seen.add(ip)
            ioc_ips.append(ip)
    threats = ("botnet_cc", "scanner", "bruteforce", "tor_exit")
    iocs = [(ip, rng.choice(threats), rng.randint(50, 100)) for ip in ioc_ips]
    # CIDR table: nested prefixes over the attacker /8s so the longest
    # match matters, plus unrelated blocks
    cidrs: list[tuple[str, str]] = []
    for i, ip in enumerate(attackers[:12]):
        o = ip.split(".")
        cidrs.append((f"{o[0]}.0.0.0/8", f"as{i}-wide"))
        cidrs.append((f"{o[0]}.{o[1]}.0.0/16", f"as{i}-mid"))
        cidrs.append((f"{o[0]}.{o[1]}.{o[2]}.0/24", f"as{i}-narrow"))
    cidrs = sorted(dict(cidrs).items())
    return World(seed, users, attackers, cum, benign, iocs, cidrs)


# -- events -----------------------------------------------------------------


@dataclass
class Truth:
    """The normalized facts one generated event must produce in the
    lake, as the checks and the detection replay need them."""

    table: str  # lake table name the detections bind to
    ts: float  # epoch seconds
    event_id: str
    ip: str | None = None
    user: str | None = None
    failed_login: bool = False  # okta: authentication category + failure
    root: bool = False  # cloudtrail: Root identity, not AwsServiceEvent
    console_login: bool = False
    dns_query: str | None = None
    action: str | None = None  # cloudtrail eventName
    event_type: str | None = None  # cloudtrail eventType
    identity: str | None = None  # cloudtrail userIdentity.type
    port: int | None = None  # zeek dns originator port


def okta_schedule(world: World, rng: random.Random, start: int, span: int, n: int):
    """(ts, attacker address or None) of n okta events in time order:
    OKTA_ATTACK_SHARE of them are brute-force bursts, each from one
    Zipf-drawn attacker, so a burst of five or more attempts crosses the
    brute-force threshold of 5 in 15 minutes and shorter ones do not."""
    budget = round(n * OKTA_ATTACK_SHARE)
    longest = BURST_ATTEMPTS[1] * BURST_GAP_S[1]
    attempts: list[tuple[int, str | None]] = []
    while len(attempts) < budget:
        ip = world.attacker(rng)
        t = start + rng.randrange(max(span - longest, 1))
        for _ in range(min(rng.randint(*BURST_ATTEMPTS), budget - len(attempts))):
            attempts.append((t, ip))
            t += rng.randint(*BURST_GAP_S)
    logins = [(ts, None) for ts in _times(rng, start, span, n - len(attempts))]
    return sorted(attempts + logins, key=lambda e: e[0])


def okta_event(world: World, rng: random.Random, ts: int, n: int, attacker: str | None):
    failed = attacker is not None or rng.random() < OKTA_TYPO_SHARE
    ip = attacker or rng.choice(world.benign_ips)
    user = rng.choice(world.users)
    uuid = stable_id("okta", world.seed, n)
    rec = {
        "published": iso(ts),
        "eventType": "user.session.start",
        "displayMessage": "User login to Okta",
        "uuid": uuid,
        "version": "0",
        "severity": "WARN" if failed else "INFO",
        "actor": {
            "id": "00u" + user,
            "type": "User",
            "alternateId": f"{user}@corp.example",
            "displayName": user.title(),
        },
        "client": {
            "ipAddress": ip,
            "zone": "null",
            "device": "Computer",
            "userAgent": {"rawUserAgent": "Mozilla/5.0", "browser": "CHROME", "os": "Mac OS X"},
            "geographicalContext": {"city": "Springfield", "state": "Oregon", "country": "United States"},
        },
        "outcome": {"result": "FAILURE" if failed else "SUCCESS", "reason": "INVALID_CREDENTIALS" if failed else None},
        "transaction": {"id": stable_id("tx", uuid)[:20], "type": "WEB"},
        "authenticationContext": {"authenticationStep": 0, "externalSessionId": stable_id("s", uuid)[:24]},
        "securityContext": {"asNumber": 7922, "asOrg": "comcast", "isp": "comcast", "domain": "comcast.net", "isProxy": False},
        "debugContext": {"debugData": {"requestId": stable_id("r", uuid)[:24], "requestUri": "/api/v1/authn", "url": "/api/v1/authn?"}},
    }
    truth = Truth("okta_system", ts, uuid, ip=ip, user=f"{user}@corp.example", failed_login=failed)
    return rec, truth


_CT_CALLS = (
    ("s3.amazonaws.com", "GetObject"),
    ("s3.amazonaws.com", "PutObject"),
    ("ec2.amazonaws.com", "DescribeInstances"),
    ("iam.amazonaws.com", "ListRoles"),
    ("sts.amazonaws.com", "AssumeRole"),
)


def cloudtrail_record(world: World, rng: random.Random, ts: int, n: int):
    eid = stable_id("ct", world.seed, n)
    user = rng.choice(world.users)
    roll = rng.random()
    console = roll < 0.12
    if console:
        source, name, etype = "signin.amazonaws.com", "ConsoleLogin", "AwsConsoleSignIn"
    else:
        source, name = rng.choice(_CT_CALLS)
        etype = "AwsServiceEvent" if roll > 0.95 else "AwsApiCall"
    ident_type = "Root" if rng.random() < CLOUDTRAIL_ROOT_SHARE else "IAMUser"
    ip = world.attacker(rng) if rng.random() < CLOUDTRAIL_ATTACKER_SHARE else rng.choice(world.benign_ips)
    rec = {
        "eventVersion": "1.08",
        "eventTime": iso(ts)[:19] + "Z",
        "eventSource": source,
        "eventName": name,
        "awsRegion": rng.choice(("us-east-1", "eu-west-1")),
        "sourceIPAddress": ip,
        "userAgent": "aws-cli/2.15.0",
        "requestID": stable_id("req", eid)[:32],
        "eventID": eid,
        "eventType": etype,
        "readOnly": name.startswith(("Get", "Describe", "List")),
        "recipientAccountId": "123456789012",
        "userIdentity": {
            "type": ident_type,
            "principalId": "AIDA" + user.upper(),
            "userName": user,
            "accountId": "123456789012",
            "arn": f"arn:aws:iam::123456789012:user/{user}",
        },
    }
    truth = Truth(
        "aws_cloudtrail", ts, eid, ip=ip, user=user,
        root=ident_type == "Root" and etype != "AwsServiceEvent",
        console_login=console, action=name, event_type=etype, identity=ident_type,
    )
    return rec, truth


def vpcflow_line(world: World, rng: random.Random, ts: int, n: int):
    src = world.attacker(rng) if rng.random() < VPCFLOW_ATTACKER_SHARE else rng.choice(world.benign_ips)
    dst = rng.choice(world.benign_ips)
    line = (
        f"2 123456789012 eni-{stable_id('eni', n[-1] % 17)[:8]} {src} {dst} "
        f"{rng.randint(1024, 65535)} {rng.choice((22, 443, 3389, 53))} 6 "
        f"{rng.randint(1, 90)} {rng.randint(60, 90000)} {ts} {ts + 60} "
        f"{rng.choice(('ACCEPT', 'REJECT'))} OK"
    )
    return line, Truth("aws_vpcflow", ts, line, ip=src)


def dns_record(world: World, rng: random.Random, ts: int, n: int):
    uid = "C" + stable_id("dns", world.seed, n)[:17]
    evil = rng.random() < DNS_C2_SHARE
    name = (
        f"{stable_id('sub', n)[:8]}.{EVIL_DOMAIN}" if evil
        else rng.choice(("corp.example", "github.com", "aws.amazon.com", "slack.com", "okta.com"))
    )
    rec = {
        "ts": float(ts) + (n[-1] % 1000) / 1000.0,
        "uid": uid,
        "id.orig_h": rng.choice(world.benign_ips),
        "id.orig_p": rng.randint(1024, 65535),
        "id.resp_h": "10.0.0.2",
        "id.resp_p": 53,
        "proto": "udp",
        "trans_id": rng.randint(1, 65535),
        "query": name,
        "qtype_name": rng.choice(("A", "AAAA", "TXT")),
        "rcode_name": "NOERROR",
        "answers": [world.attacker(rng)] if evil else [rng.choice(world.benign_ips)],
        "rejected": False,
    }
    return rec, Truth("zeek_dns", rec["ts"], uid, ip=rec["id.orig_h"], dns_query=name,
                      port=rec["id.orig_p"])


# -- raw objects ------------------------------------------------------------


@dataclass
class Batch:
    """One pack's raw objects for one time slice, plus its tallies."""

    pack: str
    table: str  # pack table the batch lands in
    lake_table: str  # lake name the detections bind to
    dir: str
    glob: str
    events: int = 0
    malformed: int = 0
    header_lines: int = 0
    # hour -> count of well-formed events; malformed land in no hour
    hours: Counter = field(default_factory=Counter)
    id_sums: Counter = field(default_factory=Counter)  # hour -> checksum part
    truths: list[Truth] = field(default_factory=list)

    def add(self, truth: Truth) -> None:
        h = hour_key(truth.ts)
        self.hours[h] += 1
        self.id_sums[h] = (self.id_sums[h] + id_checksum([truth.event_id])) % (1 << 64)
        self.truths.append(truth)


PACKS = ("okta", "aws_cloudtrail", "aws_vpcflow", "zeek")


def _times(rng: random.Random, start: int, span: int, n: int) -> list[int]:
    return sorted(start + rng.randrange(span) for _ in range(n))


def make_batch(world: World, pack: str, k: int, start: int, span: int,
               root: str, scale: float = 1.0, malformed_share: float = MALFORMED_SHARE) -> Batch:
    """Write batch `k` of `pack` covering [start, start+span) under root.
    Every record draws its malformed roll, so the well-formed records do
    not depend on `malformed_share`."""
    rng = rng_for(world.seed, pack, k, start)

    def _is_malformed(rng: random.Random) -> bool:
        return rng.random() < malformed_share

    d = os.path.join(root, f"{pack}-{k:05d}")
    if pack == "okta":
        b = Batch(pack, "system", "okta_system", d, "*.json.gz")
        lines = []
        schedule = okta_schedule(world, rng, start, span, int(OKTA_EVENTS_PER_BATCH * scale))
        for i, (ts, attacker) in enumerate(schedule):
            rec, truth = okta_event(world, rng, ts, (k, i), attacker)
            line = json.dumps(rec, separators=(",", ":"))
            if _is_malformed(rng):
                b.malformed += 1
                # half truncated pages, half unparseable timestamps
                line = line[: len(line) // 2] if i % 2 else line.replace(rec["published"], "yesterday")
            else:
                b.add(truth)
            lines.append(line)
        write_bytes(os.path.join(d, f"okta-system-{k:05d}.json.gz"), gzip_bytes("\n".join(lines) + "\n"))
        b.events = len(lines)
        return b
    if pack == "aws_cloudtrail":
        b = Batch(pack, "default", "aws_cloudtrail", d, "*.json.gz")
        n_rec = int(CLOUDTRAIL_RECORDS_PER_OBJECT * scale)
        times = _times(rng, start, span, CLOUDTRAIL_OBJECTS_PER_BATCH * n_rec)
        for o in range(CLOUDTRAIL_OBJECTS_PER_BATCH):
            recs = []
            for i, ts in enumerate(times[o * n_rec:(o + 1) * n_rec]):
                rec, truth = cloudtrail_record(world, rng, ts, (k, o, i))
                if _is_malformed(rng):
                    b.malformed += 1
                    rec["eventTime"] = "not-a-time"
                else:
                    b.add(truth)
                recs.append(rec)
            name = f"123456789012_CloudTrail_us-east-1_{k:05d}_{o:02d}.json.gz"
            write_bytes(os.path.join(d, name), gzip_bytes(json.dumps({"Records": recs})))
            b.events += len(recs)
        digest = {"awsAccountId": "123456789012", "digestStartTime": iso(start), "logFiles": []}
        write_bytes(
            os.path.join(d, f"123456789012_CloudTrail-Digest_us-east-1_{k:05d}.json.gz"),
            gzip_bytes(json.dumps(digest)),
        )
        return b
    if pack == "aws_vpcflow":
        b = Batch(pack, "default", "aws_vpcflow", d, "*.log")
        lines = [VPC_HEADER]
        for i, ts in enumerate(_times(rng, start, span, int(VPCFLOW_LINES_PER_BATCH * scale))):
            line, truth = vpcflow_line(world, rng, ts, (k, i))
            if i and i % 200 == 0:  # a log file rotated mid-object repeats the header
                lines.append(VPC_HEADER)
            if _is_malformed(rng):
                b.malformed += 1
                line = " ".join(line.split()[:5])
            else:
                b.add(truth)
            lines.append(line)
        b.header_lines = sum(1 for x in lines if x == VPC_HEADER)
        write_bytes(os.path.join(d, f"vpcflow-{k:05d}.log"), ("\n".join(lines) + "\n").encode())
        b.events = len(lines) - b.header_lines
        return b
    if pack == "zeek":
        b = Batch(pack, "dns", "zeek_dns", d, "dns.*")
        lines = []
        for i, ts in enumerate(_times(rng, start, span, int(DNS_LINES_PER_BATCH * scale))):
            rec, truth = dns_record(world, rng, ts, (k, i))
            line = json.dumps(rec, separators=(",", ":"))
            if _is_malformed(rng):
                b.malformed += 1
                line = line[: len(line) // 3]
            else:
                b.add(truth)
            lines.append(line)
        write_bytes(os.path.join(d, f"dns.{k:05d}.log"), ("\n".join(lines) + "\n").encode())
        b.events = len(lines)
        return b
    raise ValueError(pack)


def ingest_batches(world: World, root: str, rounds: int, slice_s: int,
                   first_round: int = 0, malformed_share: float = MALFORMED_SHARE) -> list[Batch]:
    """Round-robin over the four packs; round r covers event time
    [BASE + r*slice_s, BASE + (r+1)*slice_s)."""
    out = []
    for r in range(first_round, first_round + rounds):
        for p in PACKS:
            out.append(make_batch(world, p, r, BASE_EPOCH + r * slice_s, slice_s, root,
                                  malformed_share=malformed_share))
    return out


def lake_batches(world: World, root: str, hours: int, scale: float) -> list[Batch]:
    """One multi-hour batch per pack for the detect/hunt lake."""
    span = hours * HOUR_S
    return [
        make_batch(world, p, 90000, BASE_EPOCH, span, root, scale=scale)
        for p in ("okta", "aws_cloudtrail", "zeek")
    ]


# -- threat intel -------------------------------------------------------------


def write_intel(world: World, root: str) -> tuple[str, str]:
    """IOC and CIDR tables as parquet; returns their paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ioc_path = os.path.join(root, "intel_ioc.parquet")
    cidr_path = os.path.join(root, "intel_cidr.parquet")
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.table({
            "ip": [i[0] for i in world.iocs],
            "threat": [i[1] for i in world.iocs],
            "confidence": pa.array([i[2] for i in world.iocs], pa.int32()),
        }),
        ioc_path, write_statistics=False,
    )
    pq.write_table(
        pa.table({"cidr": [c[0] for c in world.cidrs], "net_name": [c[1] for c in world.cidrs]}),
        cidr_path, write_statistics=False,
    )
    return ioc_path, cidr_path


# -- curation corpus ----------------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "window sort line query customer column join filter stream data order "
    "group big small vector index shard lake alert rule event log source"
).split()
_MARKERS = {
    "en": ("the", "and", "of", "a"),
    "de": ("der", "und", "die", "das"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "de", "y"),
    "zh": ("的", "是", "了", "在"),
}
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.2  # share of documents that are edited copies of another
EXACT_DUP_SHARE = 0.05  # share that are byte-identical copies


def write_corpus(seed: int, root: str, n_docs: int) -> dict:
    """`documents.parquet` + `embeddings.parquet` in the testdata layout.

    Families: 20% of documents are near-duplicates (2-4 word edits of an
    earlier document), 5% exact copies; embeddings cluster by label with
    near-duplicate documents' vectors placed next to their originals."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = rng_for(seed, "corpus")
    texts: list[str] = []
    langs: list[str] = []
    vecs: list[list[float]] = []
    labels: list[int] = []
    centers = [[rng.gauss(0, 1) for _ in range(EMBED_DIM)] for _ in range(10)]
    near = exact = 0
    for i in range(n_docs):
        roll = rng.random()
        if i > 10 and roll < EXACT_DUP_SHARE:
            j = rng.randrange(i)
            texts.append(texts[j]); langs.append(langs[j])
            labels.append(labels[j]); vecs.append(list(vecs[j]))
            exact += 1
            continue
        if i > 10 and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            j = rng.randrange(i)
            words = texts[j].split(" ")
            for _ in range(rng.randint(2, 4)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            texts.append(" ".join(words)); langs.append(langs[j])
            labels.append(labels[j])
            vecs.append([v + rng.gauss(0, 0.02) for v in vecs[j]])
            near += 1
            continue
        lang = rng.choices(list(_MARKERS), (0.45, 0.14, 0.13, 0.14, 0.14))[0]
        n = rng.randint(25, 80)
        words = [
            rng.choice(_MARKERS[lang]) if rng.random() < 0.15 else rng.choice(_WORDS)
            for _ in range(n)
        ]
        texts.append(" ".join(words)); langs.append(lang)
        label = rng.randrange(10)
        labels.append(label)
        vecs.append([c + rng.gauss(0, 0.5) for c in centers[label]])
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(root, "documents.parquet"), write_statistics=False,
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(root, "embeddings.parquet"), write_statistics=False,
    )
    return {"docs": n_docs, "near_dup_docs": near, "exact_dup_docs": exact, "dim": EMBED_DIM}


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under root."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
