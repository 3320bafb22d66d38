"""Seeded input generator for the benchmark workloads.

Every input the harness reads comes from here, derived only from the
workload name and the seed: the same seed gives byte-identical files, a
different seed gives different ones. `content_hash` fingerprints a
generated directory so every result records exactly what it ran on.

Sizes are stated once, in SIZES, and echoed into every result.
"""
import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # Election tables near the real 2021 local-government scale: 4,468
    # wards over 257 municipalities, ~23k voting districts, 5 parties.
    "etl_refresh": {"wards": 4468, "munis": 257, "voting_districts": 23000,
                    "council_rows": 2000, "parties": 5},
    # Streaming: open loop at a fixed offered rate against a static
    # admission corpus; 10% exact re-deliveries, 10% near-copies of the
    # admission corpus, 5% below the gate's length floor. Documents are
    # 25-55 tokens (about 150-450 characters), inside the gate's 100-500
    # character and 20-token bounds, so only the short share is gated.
    "stream_ingest": {"rate_per_s": 40, "max_seconds": 70,
                      "corpus_docs": 1500, "doc_tokens": [25, 55],
                      "vocab": 20000, "zipf_s": 1.1,
                      "replay_share": 0.10, "corpus_copy_share": 0.10,
                      "short_share": 0.05},
}

LANGS = ["de", "en", "es", "fr", "zh"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng, n):
    """`n` distinct lower-case pseudo-words, 3 to 9 letters long."""
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        w = "".join(_LETTERS[rng.integers(0, 26, size=k)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def zipf_ranks(rng, n, vocab, s):
    """`n` term ranks in [0, vocab) with P(rank r) proportional to 1/(r+1)^s."""
    p = 1.0 / np.arange(1, vocab + 1) ** s
    p /= p.sum()
    return rng.choice(vocab, size=n, p=p)


def zipf_docs(rng, n, vocab_words, s, lo, hi):
    """`n` documents of `lo`..`hi` (inclusive) Zipf-drawn tokens each."""
    lens = rng.integers(lo, hi + 1, size=n)
    ranks = zipf_ranks(rng, int(lens.sum()), len(vocab_words), s)
    toks = vocab_words[ranks]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(toks[at:at + k]))
        at += k
    return out


def near_copy(rng, text, vocab_words, edit_share=0.05):
    """`text` with about `edit_share` of its tokens replaced."""
    toks = text.split(" ")
    for i in range(len(toks)):
        if rng.random() < edit_share:
            toks[i] = vocab_words[int(rng.integers(0, len(vocab_words)))]
    return " ".join(toks)


def write_parquet(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def documents_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, size=n)],
                         pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_etl(rng, out, cfg):
    nw, nm, nv = cfg["wards"], cfg["munis"], cfg["voting_districts"]
    nc, npar = cfg["council_rows"], cfg["parties"]
    write_parquet(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(npar), pa.int32()),
        "r_name": pa.array([f"REGION_{i}" for i in range(npar)])}))
    codes = vocabulary(rng, nm)
    write_parquet(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(nm), pa.int32()),
        "n_name": pa.array([c.upper() for c in codes]),
        "n_regionkey": pa.array(rng.integers(0, npar, size=nm), pa.int32())}))
    custkeys = np.sort(rng.choice(10 * nw, size=nw, replace=False)) + 1
    write_parquet(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(custkeys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in custkeys]),
        "c_nationkey": pa.array(rng.integers(0, nm, size=nw), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nw), 2)),
        "c_mktsegment": pa.array(["BUILDING"] * nw)}))
    orderkeys = np.sort(rng.choice(8 * nv, size=nv, replace=False)) + 1
    dates = (np.datetime64("2021-11-01") +
             rng.integers(0, 86400000, size=nv).astype("timedelta64[ms]"))
    write_parquet(f"{out}/orders.parquet", pa.table({
        "o_orderkey": pa.array(orderkeys, pa.int64()),
        "o_custkey": pa.array(custkeys[rng.integers(0, nw, size=nv)],
                              pa.int64()),
        "o_orderstatus": pa.array(["F"] * nv),
        "o_totalprice": pa.array(np.round(rng.uniform(500, 50000, nv), 2)),
        "o_orderdate": pa.array(dates.astype("datetime64[ms]")),
        "o_orderpriority": pa.array(["1-URGENT"] * nv)}))
    suppkeys = np.arange(1, nc + 1, dtype=np.int64)
    write_parquet(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(suppkeys, pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in suppkeys]),
        "s_nationkey": pa.array(rng.integers(0, nm, size=nc), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2))}))
    reference_files(out, f"{out}/reference")


# The reference-shaped job inputs, derived from the seed tables by the
# same column arithmetic as graft.jobs.TpchElectionSources (and so by
# the SanefQueries oracles): the files a `file:` JobRunner source reads.
_PARTY = "'Party ' || CAST({k} % 5 + 1 AS VARCHAR)"
REFERENCE_TABLES = {
    "Wards.csv": """SELECT CAST(c_nationkey % 9 + 1 AS INTEGER) AS ProvinceID,
        c_nationkey AS MunicipalityID, c_custkey AS WardID
        FROM customer ORDER BY WardID""",
    "Munis.csv": """SELECT CAST(n_nationkey % 9 + 1 AS INTEGER) AS ProvinceID,
        n_nationkey AS MunicipalityID, n_name AS Municipality,
        'Muni ' || n_name AS MunicipalityName,
        CAST(n_nationkey % 3 + 1 AS INTEGER) AS MunicTypeID
        FROM nation ORDER BY MunicipalityID""",
    "EE_VotingDistricts.parquet": """SELECT o_custkey AS fklWardId,
        CAST(CASE WHEN o_custkey % 10 = 0 THEN 77 ELSE 78 END AS INTEGER)
          AS pkfklDelimID
        FROM orders ORDER BY o_orderkey""",
    "LED_GIS_Display_VotingDistrict.parquet": """SELECT o_custkey AS fklWardId,
        o_orderkey AS fklVotingDistrict,
        CASE WHEN o_orderkey % 13 = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(floor(o_totalprice) AS BIGINT) END AS lTotalVotesCast,
        CAST(CASE WHEN o_orderkey % 17 = 0 THEN 999 ELSE 1091 END AS INTEGER)
          AS fklEEId
        FROM orders ORDER BY o_orderkey""",
    "Fact_LGE_Master_VDStats.parquet": """SELECT o_custkey AS fklWardID,
        (o_orderkey % 3 + 1) * 1000 AS lRegisteredVoters,
        CAST(floor(o_totalprice) AS BIGINT) % 1000 AS lVoterTurnout,
        CAST(CASE WHEN o_orderkey % 19 = 0 THEN 999 ELSE 1091 END AS INTEGER)
          AS pkfklEEID
        FROM orders ORDER BY o_orderkey""",
    "LED_GIS_Display_Ward.parquet": f"""SELECT o_orderkey AS pklDisplayWardID,
        CAST(CASE WHEN o_orderkey % 23 = 0 THEN 999 ELSE 1091 END AS INTEGER)
          AS fklEEId,
        o_custkey AS fklWardId,
        'Ward ' || CAST(o_custkey AS VARCHAR) AS sWardGeography,
        CAST(o_orderkey % 5 + 1 AS INTEGER) AS fklPartyID,
        {_PARTY.format(k="o_orderkey")} AS sPartyName,
        'P' || CAST(o_orderkey % 5 + 1 AS VARCHAR) AS sPartyAbbr,
        (o_orderkey % 3 + 1) * 1000 AS lRegisteredVoters,
        CAST(floor(o_totalprice) AS BIGINT) AS lTotalVotesCast,
        'Cand ' || CAST(o_orderkey AS VARCHAR) AS sCandidateName,
        CAST(floor(o_totalprice) AS BIGINT) % 997 AS lCount
        FROM orders ORDER BY o_orderkey""",
    "LED_GIS_Display_Ward_WardCandidates.parquet": f"""SELECT
        o_orderkey AS pklWardCandidateID,
        CAST(CASE WHEN o_orderkey % 29 = 0 THEN 999 ELSE 1091 END AS INTEGER)
          AS fklEEId,
        o_custkey AS fklWardId,
        'Ward ' || CAST(o_custkey AS VARCHAR) AS sWardGeography,
        CAST(o_orderkey % 5 + 1 AS INTEGER) AS fklPartyID,
        'Cand ' || CAST(o_orderkey AS VARCHAR) AS sCandidateName,
        o_orderkey AS fklCandidateID,
        CAST(o_orderkey % 9 + 1 AS INTEGER) AS lBallotOrder,
        {_PARTY.format(k="o_orderkey")} AS sPartyName,
        'P' || CAST(o_orderkey % 5 + 1 AS VARCHAR) AS sPartyAbbr,
        CAST(floor(o_totalprice) AS BIGINT) % 991 AS lCount
        FROM orders ORDER BY o_orderkey""",
    "LED_GIS_CouncilWinners.parquet": """SELECT s_suppkey AS pklCouncilWinnerID,
        CAST(CASE WHEN s_suppkey % 11 = 0 THEN 999 ELSE 1091 END AS INTEGER)
          AS fklEEID,
        s_nationkey AS fklMunicipalityID,
        CAST(s_suppkey % 5 + 1 AS INTEGER) AS fklPartyID,
        CAST(s_suppkey % 5 + 1 AS INTEGER) AS fklLeadingPartyID,
        CAST(s_suppkey % 5 + 1 AS INTEGER) AS fklMajorityPartyID,
        CAST(s_suppkey % 20 + 5 AS INTEGER) AS lCouncilSeatsAvailable,
        CAST(s_suppkey % 10 AS INTEGER) AS lTotalPartySeatsWon,
        CAST(0 AS INTEGER) AS bDraw,
        CAST(s_suppkey % 2 AS INTEGER) AS bHung
        FROM supplier ORDER BY s_suppkey""",
    "PCR_Party.parquet": """SELECT CAST(r_regionkey + 1 AS INTEGER) AS pklPartyID,
        'Party ' || CAST(r_regionkey + 1 AS VARCHAR) AS sPartyName,
        'P' || CAST(r_regionkey + 1 AS VARCHAR) AS sPartyAbbr
        FROM region ORDER BY pklPartyID""",
    "LGEBallotResults.parquet": f"""WITH v AS (
          SELECT o_custkey AS WardID, {_PARTY.format(k="o_orderkey")
                                        .replace("% 5", "% 3")} AS Name,
            sum(CAST(floor(o_totalprice) AS BIGINT)) AS TotalValidVotes
          FROM orders GROUP BY 1, 2)
        SELECT CAST(to_json({{'WardID': WardID, 'PartyBallotResults':
          list({{'Name': Name, 'TotalValidVotes':
            CAST(TotalValidVotes AS BIGINT)}} ORDER BY Name)}}) AS VARCHAR)
          AS body
        FROM v GROUP BY WardID ORDER BY WardID""",
    "CouncilorsByEvent.parquet": f"""SELECT CAST(to_json(list({{
          'WardID': o_custkey,
          'Name': 'Cand ' || CAST(o_orderkey AS VARCHAR),
          'PartyName': {_PARTY.format(k="o_orderkey")}}}
          ORDER BY o_custkey, 'Cand ' || CAST(o_orderkey AS VARCHAR),
            {_PARTY.format(k="o_orderkey")})) AS VARCHAR) AS body
        FROM orders GROUP BY o_custkey % 64 ORDER BY o_custkey % 64""",
    "LGESeatCalculationResults.parquet": f"""SELECT CAST(to_json({{
          'MunicipalityID': s_nationkey, 'PartyResults': list({{
            'Name': {_PARTY.format(k="s_suppkey")},
            'WardSeats': CAST(s_suppkey % 7 AS INTEGER),
            'PRSeats': CAST(s_suppkey % 4 AS INTEGER)}}
          ORDER BY {_PARTY.format(k="s_suppkey")}, s_suppkey % 7,
            s_suppkey % 4)}}) AS VARCHAR) AS body
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
}


def reference_files(tables, out):
    """Write REFERENCE_TABLES under `out` from the seed tables."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("customer", "nation", "orders", "supplier", "region"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    for name, sql in REFERENCE_TABLES.items():
        fmt = "(HEADER)" if name.endswith(".csv") else "(FORMAT PARQUET)"
        con.execute(f"COPY ({sql}) TO '{out}/{name}' {fmt}")
    con.close()


def gen_stream(rng, out, cfg):
    vocab_words = vocabulary(rng, cfg["vocab"])
    nc = cfg["corpus_docs"]
    corpus = zipf_docs(rng, nc, vocab_words, cfg["zipf_s"],
                       *cfg["doc_tokens"])
    write_parquet(f"{out}/corpus.parquet",
                  documents_table(np.arange(nc, dtype=np.int64), corpus, rng))
    n = cfg["rate_per_s"] * cfg["max_seconds"]
    # Poisson arrivals at the offered rate
    due = np.cumsum(rng.exponential(1.0 / cfg["rate_per_s"], size=n))
    texts = zipf_docs(rng, n, vocab_words, cfg["zipf_s"],
                      *cfg["doc_tokens"])
    for i in range(n):
        u = rng.random()
        if u < cfg["replay_share"] and i > 0:
            texts[i] = texts[int(rng.integers(max(0, i - 500), i))]
        elif u < cfg["replay_share"] + cfg["corpus_copy_share"]:
            texts[i] = near_copy(rng, corpus[int(rng.integers(0, nc))],
                                 vocab_words, 0.02)
        elif u < (cfg["replay_share"] + cfg["corpus_copy_share"] +
                  cfg["short_share"]):
            texts[i] = " ".join(texts[i].split(" ")[:8])
    write_parquet(f"{out}/arrivals.parquet", pa.table({
        "doc_id": pa.array(np.arange(10 ** 7, 10 ** 7 + n), pa.int64()),
        "due_s": pa.array(due, pa.float64()),
        "text": pa.array(texts, pa.string()),
        "source": pa.array([f"crawl{i}" for i in rng.integers(0, 8, size=n)],
                           pa.string())}))


GENERATORS = {
    "etl_refresh": gen_etl,
    "stream_ingest": gen_stream,
}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out`; return its hash."""
    rng = np.random.Generator(np.random.PCG64(
        [seed, sorted(GENERATORS).index(workload)]))
    GENERATORS[workload](rng, out, SIZES[workload])
    return content_hash(out)


def content_hash(root):
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
