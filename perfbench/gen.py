"""Seeded telemetry-day generator for the suspicious-connects benchmark.

Writes, for one (workload, seed), the files the analyst CLI reads:

  flow/ or dns/     one parquet file per hour of the day
  feedback.tsv      headered analyst feedback (flow_train)
  top_domains.csv   `rank,domain` popularity list (dns workload)

Every random draw is a hash of (seed, stream, row index) -- splitmix64 over
numpy arrays -- so one seed gives byte-identical files regardless of thread
count or machine. Each IP has a role (web client, resolver, scanner, ...)
that skews its ports, sizes, hours and names, which gives the topic model
real structure to learn.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

M64 = np.uint64(0xFFFFFFFFFFFFFFFF)

# Rows per workload at --scale 1 (see BENCHMARK.json for why each exists).
FLOW_IPS = 4_000
SIZES = {
    "flow_train": dict(rows=100_000, ips=FLOW_IPS, feedback=100),
    "flow_score": dict(rows=1_200_000, ips=FLOW_IPS),
    "dns_train": dict(rows=250_000, clients=800, top_domains=100_000),
}
# flow_score scores days of the population that flow_train generates at
# MODEL_SEED, with the model trained on that day: same IPs, roles and ports,
# different traffic (the day stream is the workload seed).
MODEL_SEED = 1


def splitmix(x):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & M64
        return x ^ (x >> np.uint64(31))


class Draws:
    """Independent uniform streams keyed by (seed, stream name, index)."""

    def __init__(self, seed, day=0):
        self.seed = int(seed)
        self.day = int(day)

    def u64(self, stream, n):
        key = splitmix(np.array([self.seed * 1_000_003 + self.day], dtype=np.uint64))
        for ch in stream.encode():
            key = splitmix(key ^ np.uint64(ch))
        with np.errstate(over="ignore"):
            return splitmix(np.arange(n, dtype=np.uint64) + key[0] * np.uint64(0x2545F4914F6CDD1D))

    def uniform(self, stream, n):
        return (self.u64(stream, n) >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))

    def ints(self, stream, n, lo, hi):
        """Integers in [lo, hi)."""
        return lo + (self.u64(stream, n) % np.uint64(hi - lo)).astype(np.int64)

    def normal(self, stream, n):
        u1 = np.maximum(self.uniform(stream + ".a", n), 1e-300)
        u2 = self.uniform(stream + ".b", n)
        return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)

    def choice(self, stream, n, weights):
        cdf = np.cumsum(np.asarray(weights, dtype=np.float64))
        cdf /= cdf[-1]
        return np.minimum(np.searchsorted(cdf, self.uniform(stream, n), side="right"),
                          len(cdf) - 1)


def zipf_weights(n, s):
    return 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s


def role_by_rank(n, shares):
    """Role of each activity rank: the roles interleaved in proportion to
    their shares, the same for every seed, so each role's share of the
    traffic (and with it the corpus shape) does not drift between seeds."""
    counts = np.maximum(1, np.round(np.asarray(shares) * 100).astype(int))
    slots = sorted((j / c + 0.5 / c, i) for i, c in enumerate(counts) for j in range(c))
    pattern = np.array([i for _, i in slots])
    return pattern[np.arange(n) % len(pattern)]


def strings(pool, idx):
    """Per-row strings as a dictionary take -- no per-row Python objects."""
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()),
                                          pa.array(pool, pa.string())).cast(pa.string())


def write_hourly(table, hours, out_dir):
    """One parquet file per hour, rows in generation order within the hour."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.argsort(hours, kind="stable")
    table = table.take(pa.array(order))
    sorted_hours = hours[order]
    bounds = np.searchsorted(sorted_hours, np.arange(25))
    for h in range(24):
        lo, hi = int(bounds[h]), int(bounds[h + 1])
        if hi > lo:
            pq.write_table(table.slice(lo, hi - lo), f"{out_dir}/h{h:02d}.parquet",
                           compression="snappy", row_group_size=1 << 20)


def ip_pool(d, n, prefix):
    """n distinct dotted quads under `prefix` (one or two leading octets)."""
    k = 3 - prefix.count(".")
    octs = d.ints("ip." + prefix, k * n, 1, 255).reshape(k, n)
    pool = [".".join([prefix] + [str(o) for o in q]) for q in zip(*octs.tolist())]
    # hash collisions would merge two IPs' documents; make each one unique
    seen, out = set(), []
    for i, ip in enumerate(pool):
        while ip in seen:
            ip = f"{ip}{i % 10}"
        seen.add(ip)
        out.append(ip)
    return out


# --------------------------------------------------------------------- flow

# role: (name, share of IPs, destination role, destination ports, hour
#        centre/spread, ln(bytes) mean/sd, ln(packets) mean/sd)
FLOW_ROLES = [
    ("web_client", 0.70, "web_server", [443, 80, 8080], (14, 3.0), (8.0, 1.2), (2.5, 0.8)),
    ("dns_resolver", 0.03, "dns_upstream", [53], (12, 6.0), (4.5, 0.3), (0.2, 0.3)),
    ("mail_server", 0.03, "mail_peer", [25, 587], (11, 4.0), (9.5, 1.5), (3.0, 1.0)),
    ("ssh_admin", 0.05, "ssh_host", [22], (10, 2.0), (7.0, 2.0), (3.5, 1.5)),
    ("backup", 0.02, "backup_store", [873, 445], (2, 1.5), (15.0, 1.0), (8.0, 1.0)),
    ("scanner", 0.01, "any", None, (12, 12.0), (4.0, 0.2), (0.0, 0.2)),
    ("p2p", 0.16, "p2p", None, (20, 4.0), (10.0, 2.0), (4.0, 1.5)),
]
SERVER_ROLES = ["web_server", "dns_upstream", "mail_peer", "ssh_host", "backup_store"]


class FlowPopulation:
    """IPs, their roles and activity weights; depends on the seed only, so
    every day generated from one seed shares it."""

    def __init__(self, seed, n_clients):
        d = Draws(seed)
        self.clients = ip_pool(d, n_clients, "10")
        # heavy-tailed activity: a few IPs send most flows; client i has
        # activity rank i (the IP strings themselves are random)
        self.weight = zipf_weights(n_clients, 0.8)
        self.role = role_by_rank(n_clients, [r[1] for r in FLOW_ROLES])
        n_servers = max(len(SERVER_ROLES) * 8, n_clients // 10)
        self.servers = ip_pool(d, n_servers, "172")
        self.server_role = d.ints("srole", n_servers, 0, len(SERVER_ROLES))


def flow_day(pop, d, n):
    role = pop.role
    w = pop.weight
    src = d.choice("src", n, w)
    r = role[src]
    dport = np.zeros(n, dtype=np.int64)
    sport = d.ints("sport", n, 1025, 65536)
    dst_idx = np.zeros(n, dtype=np.int64)
    dst_is_client = np.zeros(n, dtype=bool)
    hour_c = np.zeros(n)
    hour_s = np.zeros(n)
    lb = np.zeros((2, n))
    lp = np.zeros((2, n))
    server_idx_by_role = {k: np.flatnonzero(pop.server_role == i)
                          for i, k in enumerate(SERVER_ROLES)}
    pick = d.uniform("dstpick", n)
    port_pick = d.uniform("portpick", n)
    for i, (_, _, dst_role, ports, hours, lbytes, lpkts) in enumerate(FLOW_ROLES):
        m = r == i
        k = int(m.sum())
        if k == 0:
            continue
        if dst_role in server_idx_by_role:
            cand = server_idx_by_role[dst_role]
            # popular servers first: a Zipf pick over the role's servers
            cw = np.cumsum(zipf_weights(len(cand), 0.8))
            dst_idx[m] = cand[np.minimum(np.searchsorted(cw / cw[-1], pick[m]), len(cand) - 1)]
        else:
            dst_idx[m] = (pick[m] * len(pop.clients)).astype(np.int64)
            dst_is_client[m] = True
        if ports is not None:
            dport[m] = np.asarray(ports)[np.minimum((port_pick[m] ** 2 * len(ports)).astype(np.int64),
                                                   len(ports) - 1)]
        elif dst_role == "any":  # scanner: low ports, one packet
            dport[m] = 1 + (port_pick[m] * 1024).astype(np.int64)
        else:  # p2p: high ports both ends
            dport[m] = 6881 + (port_pick[m] * 50000).astype(np.int64)
        hour_c[m], hour_s[m] = hours
        lb[:, m] = np.array(lbytes)[:, None]
        lp[:, m] = np.array(lpkts)[:, None]
    tod = np.mod(hour_c + hour_s * d.normal("hour", n), 24.0)
    secs = np.minimum((tod * 3600).astype(np.int64), 86399)
    ibyt = np.maximum(np.exp(lb[0] + lb[1] * d.normal("bytes", n)), 40).astype(np.int64)
    ipkt = np.maximum(np.exp(lp[0] + lp[1] * d.normal("pkts", n)), 1).astype(np.int64)
    opkt = (ipkt * d.uniform("opkt", n) * 2).astype(np.int64)
    obyt = (ibyt * d.uniform("obyt", n) * 1.5).astype(np.int64)
    dip_pool = pop.clients + pop.servers
    dip = np.where(dst_is_client, dst_idx, dst_idx + len(pop.clients))
    hour = secs // 3600
    cols = {
        "treceived": pa.array([f"2016-05-05 {h:02d}" for h in range(24)], pa.string()).take(
            pa.array(hour)),
        "trhour": pa.array(hour.astype(np.int32)),
        "trminute": pa.array(((secs // 60) % 60).astype(np.int32)),
        "trsec": pa.array((secs % 60).astype(np.int32)),
        "tdur": pa.array(np.round(d.uniform("dur", n) * np.log1p(ipkt), 3)),
        "sip": strings(pop.clients, src),
        "dip": strings(dip_pool, dip),
        "sport": pa.array(sport.astype(np.int32)),
        "dport": pa.array(dport.astype(np.int32)),
        "proto": strings(["TCP", "UDP"], (dport == 53).astype(np.int32)),
        "ipkt": pa.array(ipkt),
        "ibyt": pa.array(ibyt),
        "opkt": pa.array(opkt),
        "obyt": pa.array(obyt),
    }
    return pa.table(cols), hour, r


def flow_feedback(pop, d, n):
    """Analyst feedback: scanner and backup flows confirmed benign (sev=3),
    mixed with sev 1/2 rows that the loader must drop."""
    table, _, role = flow_day(pop, d, n * 20)
    names = [x[0] for x in FLOW_ROLES]
    rare = np.isin(role, [names.index("scanner"), names.index("backup")])
    rows = np.concatenate([np.flatnonzero(rare), np.flatnonzero(~rare)])[:n]
    fb = table.take(pa.array(np.sort(rows)))
    sev = np.where(d.uniform("sev", len(rows)) < 0.8, 3,
                   1 + (d.uniform("sev2", len(rows)) * 2).astype(np.int64))
    keep = ["trhour", "trminute", "trsec", "sip", "dip", "sport", "dport", "ipkt", "ibyt"]
    return fb.select(keep).append_column("sev", pa.array(sev.astype(np.int32)))


def write_tsv(table, path):
    cols = [c.to_pylist() for c in table.columns]
    with open(path, "w") as f:
        f.write("\t".join(table.column_names) + "\n")
        for row in zip(*cols):
            f.write("\t".join(str(v) for v in row) + "\n")


# ---------------------------------------------------------------------- dns

TLDS = ["com", "net", "org", "io", "co.uk", "de", "info"]
DGA_TLDS = ["biz", "info", "ru", "top", "xyz"]
ALPHA = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
# client role: (share, qname mix over [popular, cdn, reverse, dga], hour centre/spread)
DNS_ROLES = [
    ("browser", 0.80, [0.80, 0.17, 0.02, 0.01], (14, 3.5)),
    ("server", 0.10, [0.15, 0.05, 0.80, 0.00], (12, 8.0)),
    ("cdn_heavy", 0.07, [0.25, 0.74, 0.01, 0.00], (20, 3.0)),
    ("infected", 0.03, [0.30, 0.05, 0.00, 0.65], (3, 5.0)),
]


def labels(d, stream, n, lo, hi):
    """n random [a-z0-9] labels with lengths in [lo, hi)."""
    lens = d.ints(stream + ".len", n, lo, hi)
    chars = ALPHA[d.ints(stream + ".ch", n * hi, 0, len(ALPHA))].reshape(n, hi)
    return [bytes(chars[i, :lens[i]]).decode() for i in range(n)]


def top_domains(seed, n):
    d = Draws(seed)
    names = labels(d, "top", n, 4, 12)
    tld = d.ints("toptld", n, 0, len(TLDS))
    # unique first labels, as a real rank list has
    seen, out = set(), []
    for i, (nm, t) in enumerate(zip(names, tld.tolist())):
        while nm in seen:
            nm = f"{nm}{i % 10}"
        seen.add(nm)
        out.append(f"{nm}.{TLDS[t]}")
    return out


def dns_day(seed, n, n_clients, domains):
    d = Draws(seed)
    clients = ip_pool(d, n_clients, "192.168")
    crole = role_by_rank(n_clients, [r[1] for r in DNS_ROLES])
    cw = zipf_weights(n_clients, 0.9)
    cli = d.choice("client", n, cw)
    role = crole[cli]
    # query kind per row: 0 popular, 1 CDN, 2 reverse lookup, 3 DGA
    cum = np.cumsum(np.array([r[2] for r in DNS_ROLES]), axis=1)[role]
    kind = (d.uniform("kind", n)[:, None] > cum).sum(axis=1)

    # qname pools: popular hosts, deep CDN names, reverse lookups, DGA names
    n_pop = min(len(domains), 20_000)
    host = ["www", "mail", "api", "static", "m", "login"]
    pop_pool = [f"{host[i % len(host)]}.{domains[i // len(host)]}"
                for i in range(n_pop * len(host) // 2)]
    cdn_labels = labels(d, "cdn", 4_000, 3, 9)
    cdn_pool = [f"{cdn_labels[i % 4000]}.{cdn_labels[(i * 7 + 1) % 4000]}.edge{i % 13}."
                f"r{i % 97}.cdn{i % 5}.net" for i in range(20_000)]
    rev_oct = d.ints("rev", 4 * 20_000, 1, 255).reshape(4, -1).tolist()
    rev_pool = [f"{a}.{b}.{c}.{e}.in-addr.arpa" for a, b, c, e in zip(*rev_oct)]
    dga_names = labels(d, "dga", 30_000, 10, 22)
    dga_tld = d.ints("dgatld", 30_000, 0, len(DGA_TLDS)).tolist()
    dga_pool = [f"{nm}.{DGA_TLDS[t]}" for nm, t in zip(dga_names, dga_tld)]
    pools = [pop_pool, cdn_pool, rev_pool, dga_pool]
    skew = [1.0, 0.8, 0.3, 0.0]
    idx = np.zeros(n, dtype=np.int64)
    offset = 0
    for k, pool in enumerate(pools):
        m = kind == k
        idx[m] = offset + d.choice(f"pick{k}", int(m.sum()), zipf_weights(len(pool), skew[k]))
        offset += len(pool)
    all_names = pop_pool + cdn_pool + rev_pool + dga_pool
    name_len = np.array([len(s) for s in all_names])[idx]

    hc = np.array([r[3][0] for r in DNS_ROLES])[role]
    hs = np.array([r[3][1] for r in DNS_ROLES])[role]
    tod = np.mod(hc + hs * d.normal("hour", n), 24.0)
    secs = np.minimum((tod * 3600).astype(np.int64), 86399)
    ts = 1462406400 + secs
    qtype = np.select([kind == 2, kind == 3], [12, 1],
                      np.where(d.uniform("aaaa", n) < 0.3, 28, 1))
    rcode = np.select([kind == 3, kind == 2],
                      [np.where(d.uniform("nx", n) < 0.9, 3, 0),
                       np.where(d.uniform("nx2", n) < 0.4, 3, 0)], 0)
    frame_len = 60 + 2 * name_len + (qtype == 28) * 12 + d.ints("flen", n, 0, 40)
    micros = d.ints("us", n, 0, 1_000_000)
    hour = secs // 3600
    cols = {
        "frame_time": pa.array([f"May  5, 2016 {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
                                for s in range(86400)], pa.string()).take(pa.array(secs)),
        "unix_tstamp": pa.array(ts),
        "frame_len": pa.array(frame_len.astype(np.int32)),
        "ip_src": strings(["10.0.0.53", "10.0.1.53"], (cli % 2).astype(np.int32)),
        "ip_dst": strings(clients, cli),
        "dns_qry_name": strings(all_names, idx),
        "dns_qry_class": strings(["0x00000001"], np.zeros(n, dtype=np.int32)),
        "dns_qry_type": pa.array(qtype.astype(np.int32)),
        "dns_qry_rcode": pa.array(rcode.astype(np.int32)),
        "frame_us": pa.array(micros),
    }
    return pa.table(cols), hour


# --------------------------------------------------------------------- main

def generate(workload, seed, out, scale=1.0):
    size = {k: max(1, int(v * scale)) for k, v in SIZES[workload].items()}
    os.makedirs(out, exist_ok=True)
    if workload in ("flow_train", "flow_score"):
        if workload == "flow_train":
            pop, day = FlowPopulation(seed, size["ips"]), Draws(seed)
        else:
            pop, day = FlowPopulation(MODEL_SEED, size["ips"]), Draws(MODEL_SEED, 1 + seed)
        table, hour, _ = flow_day(pop, day, size["rows"])
        write_hourly(table, hour, f"{out}/flow")
        if workload == "flow_train":
            write_tsv(flow_feedback(pop, Draws(seed, 1_000_000), size["feedback"]),
                      f"{out}/feedback.tsv")
        docs = len(set(table.column("sip").unique().to_pylist()) |
                   set(table.column("dip").unique().to_pylist()))
    else:
        domains = top_domains(seed, size["top_domains"])
        with open(f"{out}/top_domains.csv", "w") as f:
            f.writelines(f"{i + 1},{dom}\n" for i, dom in enumerate(domains))
        table, hour = dns_day(seed, size["rows"], size["clients"], domains)
        write_hourly(table, hour, f"{out}/dns")
        docs = len(table.column("ip_dst").unique())
    stats = {"workload": workload, "seed": seed, "rows": table.num_rows, "docs": docs}
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(stats, f)
    return stats

