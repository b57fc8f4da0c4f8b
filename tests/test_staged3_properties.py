"""Randomized brute-force cross-checks for the THIRD staged pack
(operators/staged3.py): each test builds a small synthetic corpus
(fixed seeds), runs the operator through its real parquet-loading
path, and compares against an independent pure-pandas/numpy model —
covering regimes the driver corpus never reaches (k-core collapse,
largest-remainder ties, all-boilerplate corpora, zero-variance
strata, CV bucket boundaries).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _write(tmp_path, name: str, pdf: pd.DataFrame) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    d.mkdir(exist_ok=True)
    pdf = pdf.copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf), d / f"{name}.parquet")
    return str(d)


@pytest.mark.parametrize("seed", [7, 301])
def test_kcore_peel_matches_bruteforce(spark, tmp_path, seed):
    """k-core trajectory vs an explicit python peel — the sparse
    random bipartite graph plants chains and pendants so rounds
    actually shrink the graph (including full collapse)."""
    from parquet_stream_writer_spark.operators.staged3 import (
        _KCORE_K,
        _KCORE_ROUNDS,
        graph_kcore_peel,
    )

    rng = np.random.default_rng(seed)
    n = 240
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype="int64"),
            "l_suppkey": rng.integers(0, 12, n).astype("int64"),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, 60, n).astype("int64"),
        }
    )
    sf = _write(tmp_path, "lineitem", li)
    _write(tmp_path, "orders", orders)
    got = [
        (r.round, r.n_nodes, r.n_edges)
        for r in graph_kcore_peel(spark, sf).collect()
    ]

    pairs = {
        (int(c) * 2, int(s) * 2 + 1)
        for c, s in zip(orders.o_custkey, li.l_suppkey)
    }
    edges = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    want = []
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg: dict = {}
        for a, _b in edges:
            deg[a] = deg.get(a, 0) + 1
        keep = {v for v, d in deg.items() if d >= _KCORE_K}
        edges = {(a, b) for a, b in edges if a in keep and b in keep}
        want.append(
            (rnd, len({a for a, _ in edges}), len(edges) // 2)
        )
    assert got == want


def test_kcore_peel_all_peeled_reports_zero_edges(spark, tmp_path):
    """A graph of disjoint single edges (every node has degree 1 < k)
    is peeled bare in round 1: every round must report 0 nodes and 0
    edges — not a NULL edge count from summing no degree rows — and
    match the DuckDB oracle on the same corpus."""
    import duckdb

    from parquet_stream_writer_spark.operators.staged3 import (
        _KCORE_ROUNDS,
        ORACLE_GRAPH_KCORE_PEEL,
        graph_kcore_peel,
    )

    n = 8
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype="int64"),
            "l_suppkey": np.arange(n, dtype="int64"),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": np.arange(n, dtype="int64"),
        }
    )
    sf = _write(tmp_path, "lineitem", li)
    _write(tmp_path, "orders", orders)
    got = [
        (r.round, r.n_nodes, r.n_edges)
        for r in graph_kcore_peel(spark, sf).collect()
    ]
    want = [(rnd, 0, 0) for rnd in range(1, _KCORE_ROUNDS + 1)]
    assert got == want

    con = duckdb.connect()
    con.register("lineitem", li)
    con.register("orders", orders)
    assert [tuple(r) for r in con.sql(ORACLE_GRAPH_KCORE_PEEL).fetchall()] == want


@pytest.mark.parametrize("seed", [19, 808])
def test_neyman_allocation_matches_bruteforce(spark, tmp_path, seed):
    """Largest-remainder Neyman allocation vs a python model — strata
    with equal weights plant remainder TIES (broken on lang), and one
    single-doc stratum pins the zero-variance guard."""
    from parquet_stream_writer_spark.operators.staged3 import (
        _NEYMAN_TARGET,
        sample_neyman_allocation,
    )

    rng = np.random.default_rng(seed)
    frames = []
    did = 0
    sizes = {"aa": 40, "bb": 40, "cc": 17, "dd": 1, "ee": 25}
    for lang, size in sizes.items():
        chars = rng.integers(10, 5000, size).astype("int64")
        frames.append(
            pd.DataFrame(
                {
                    "doc_id": np.arange(did, did + size, dtype="int64"),
                    "text": ["x"] * size,
                    "lang": lang,
                    "source": "s",
                    "n_chars": chars,
                }
            )
        )
        did += size
    docs = pd.concat(frames, ignore_index=True)
    sf = _write(tmp_path, "documents", docs)
    got = {
        (r.lang, r.n_docs, r.alloc_n)
        for r in sample_neyman_allocation(spark, sf).collect()
    }

    rows = []
    for lang, g in docs.groupby("lang"):
        x = g.n_chars.to_numpy("int64")
        nh = len(x)
        s2 = (
            (nh * float((x.astype(object) ** 2).sum()) - float(x.sum()) ** 2)
            / (nh * (nh - 1))
            if nh > 1
            else 0.0
        )
        rows.append((lang, nh, nh * np.sqrt(s2)))
    sw = 0.0
    for _lang, _nh, w in sorted(rows):
        sw += w
    raws = [
        (lang, nh, w * _NEYMAN_TARGET / sw if sw > 0 else nh * _NEYMAN_TARGET / len(docs))
        for lang, nh, w in rows
    ]
    base = {lang: int(np.floor(r)) for lang, _nh, r in raws}
    rem = sorted(
        ((r - np.floor(r), lang) for lang, _nh, r in raws),
        key=lambda t: (-t[0], t[1]),
    )
    deficit = _NEYMAN_TARGET - sum(base.values())
    bump = {lang for _r, lang in rem[:deficit]}
    want = {
        (lang, nh, base[lang] + (1 if lang in bump else 0))
        for lang, nh, _r in raws
    }
    assert got == want
    assert sum(a for _l, _n, a in got) == _NEYMAN_TARGET


@pytest.mark.parametrize("seed", [23, 606])
def test_cadence_buckets_match_bruteforce(spark, tmp_path, seed):
    """CV bucket classification vs python — planted users sit exactly
    ON the CV=0.5 and CV=1.0 boundaries (strict < in both engines),
    plus a same-second degenerate user."""
    from parquet_stream_writer_spark.operators.staged3 import (
        events_cadence_regularity,
    )

    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    base = pd.Timestamp("2024-05-01")

    def add_user(uid, gaps_s):
        nonlocal eid
        t = base
        rows.append((eid, t, uid, "view", 1.0, "{}"))
        eid += 1
        for g in gaps_s:
            t = t + pd.Timedelta(seconds=int(g))
            rows.append((eid, t, uid, "view", 1.0, "{}"))
            eid += 1

    add_user(1, [60] * 8)  # zero variance -> regular
    add_user(2, [0] * 7)  # degenerate (sum 0)
    # CV exactly 0.5: gaps {1,1,3,3} repeated -> mean 2, var 1, cv .5
    add_user(3, [1, 1, 3, 3, 1, 1, 3, 3])
    for uid in range(4, 20):
        add_user(uid, rng.integers(1, 3600, rng.integers(5, 30)))
    add_user(99, [10, 20])  # under _CADENCE_MIN_GAPS -> excluded
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", ev)
    got = {
        (r.bucket, r.n_users, float(r.mean_gaps))
        for r in events_cadence_regularity(spark, sf).collect()
    }

    buckets: dict = {}
    for uid, g in ev.groupby("user_id"):
        ts = np.sort(g.ts.values.astype("datetime64[us]").astype("int64"))
        gaps = np.diff(ts) // 1_000_000
        n = len(gaps)
        if n < 5:
            continue
        s, q = int(gaps.sum()), int((gaps.astype(object) ** 2).sum())
        var_num = n * q - s * s
        if s == 0:
            b = "degenerate"
        elif var_num * 4 < s * s:
            b = "regular"
        elif var_num < s * s:
            b = "steady"
        else:
            b = "bursty"
        buckets.setdefault(b, []).append(n)
    want = {
        (b, len(ns), float(np.floor(sum(ns) / len(ns) * 100 + 0.5) / 100))
        for b, ns in buckets.items()
    }
    assert got == want
    assert {"regular", "degenerate"} <= {b for b, _n, _m in got}


@pytest.mark.parametrize("seed", [31, 404])
def test_novelty_curve_matches_bruteforce(spark, tmp_path, seed):
    """Bigram novelty deciles vs python — the head of the corpus is
    fresh text, the tail re-serves head phrases, so novelty must FALL
    across deciles (also asserted, non-vacuously)."""
    from parquet_stream_writer_spark.operators.staged3 import (
        text_ngram_novelty_curve,
    )

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(400)]
    texts = []
    for d in range(100):
        if d < 50:
            words = list(rng.choice(vocab, 30))
        else:  # tail: re-serve an earlier doc's phrases with light noise
            src = texts[int(rng.integers(0, 40))].split()
            words = src[:20] + list(rng.choice(vocab, 5))
        texts.append(" ".join(words))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(100, dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": "s",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = _write(tmp_path, "documents", docs)
    got = {
        (r.decile, r.n_docs, r.bigrams_total, r.novel_total)
        for r in text_ngram_novelty_curve(spark, sf).collect()
    }

    first: dict = {}
    per_doc = []
    for d, t in zip(docs.doc_id, docs.text):
        ws = t.split()
        grams = {(ws[i], ws[i + 1]) for i in range(len(ws) - 1)}
        per_doc.append((int(d), grams))
        for g in grams:
            first.setdefault(g, int(d))
    mn, mx = 0, 99
    agg: dict = {}
    for d, grams in per_doc:
        dec = (d - mn) * 10 // (mx - mn + 1)
        n_doc, tot, nov = agg.get(dec, (0, 0, 0))
        agg[dec] = (
            n_doc + 1,
            tot + len(grams),
            nov + sum(1 for g in grams if first[g] == d),
        )
    want = {(dec, a, b, c) for dec, (a, b, c) in agg.items()}
    assert got == want
    shares = sorted((dec, c / b) for dec, (a, b, c) in agg.items())
    assert shares[0][1] > shares[-1][1]  # head novel, tail derivative


@pytest.mark.parametrize("seed", [43])
def test_weekly_seasonality_strength_matches_numpy(spark, tmp_path, seed):
    """SSB/SST decomposition vs numpy — one planted perfectly-weekly
    type (strength → ~1) and one uniform type (low strength)."""
    from parquet_stream_writer_spark.operators.staged3 import (
        events_weekly_seasonality_strength,
    )

    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    base = pd.Timestamp("2024-01-01")  # a Monday
    for d in range(56):
        day = base + pd.Timedelta(days=d)
        weekly = 40 if d % 7 in (5, 6) else 4  # weekend spikes
        for _ in range(weekly):
            rows.append((eid, day + pd.Timedelta(seconds=eid % 3600), 1, "weekly", 1.0, "{}"))
            eid += 1
        for _ in range(int(rng.integers(3, 7))):
            rows.append((eid, day + pd.Timedelta(seconds=eid % 3600), 2, "flat", 1.0, "{}"))
            eid += 1
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", ev)
    got = {
        r.event_type: (r.n_days, r.n_events, float(r.weekly_strength))
        for r in events_weekly_seasonality_strength(spark, sf).collect()
    }

    for etype, g in ev.groupby("event_type"):
        days = (
            g.ts.values.astype("datetime64[us]").astype("int64") // 86_400_000_000
        )
        daily = pd.Series(days).value_counts().sort_index()
        c = daily.to_numpy("int64")
        dvals = daily.index.to_numpy("int64")
        n, s, q = len(c), int(c.sum()), int((c.astype(object) ** 2).sum())
        ssb = 0.0
        for dow in sorted(set((dvals + 4) % 7)):
            mask = (dvals + 4) % 7 == dow
            sg, ng = int(c[mask].sum()), int(mask.sum())
            ssb += float(sg) * sg / ng
        num = ssb - float(s) * s / n
        den = float(q) - float(s) * s / n
        want = float(np.floor(num / den * 1e6 + 0.5) / 1e6) if den > 0 else None
        assert got[etype][0] == n and got[etype][1] == s
        assert got[etype][2] == pytest.approx(want, abs=2e-6)
    assert got["weekly"][2] > 0.9 > got["flat"][2]


@pytest.mark.parametrize("seed", [53, 777])
def test_assortativity_matches_numpy(spark, tmp_path, seed):
    """Degree assortativity vs an explicit numpy Pearson over edge
    endpoint degrees — a hub-and-spoke block (negative assortativity)
    plus a clique-ish block keep the value well away from zero."""
    from parquet_stream_writer_spark.operators.staged3 import graph_assortativity

    rng = np.random.default_rng(seed)
    n = 300
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype="int64"),
            # hub suppliers 0-1 take most trade; 2-9 are leaves
            "l_suppkey": np.where(
                rng.random(n) < 0.6, rng.integers(0, 2, n), rng.integers(2, 10, n)
            ).astype("int64"),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, 80, n).astype("int64"),
        }
    )
    sf = _write(tmp_path, "lineitem", li)
    _write(tmp_path, "orders", orders)
    row = graph_assortativity(spark, sf).collect()[0]

    pairs = {
        (int(c) * 2, int(s) * 2 + 1)
        for c, s in zip(orders.o_custkey, li.l_suppkey)
    }
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    deg: dict = {}
    for a, _b in edges:
        deg[a] = deg.get(a, 0) + 1
    dx = np.array([deg[a] for a, _ in edges], dtype="int64")
    dy = np.array([deg[b] for _, b in edges], dtype="int64")
    m = len(edges)
    num = float(m) * int((dx.astype(object) * dy).sum()) - float(
        int(dx.sum())
    ) * int(dy.sum())
    vx = float(m) * int((dx.astype(object) ** 2).sum()) - float(int(dx.sum())) ** 2
    vy = float(m) * int((dy.astype(object) ** 2).sum()) - float(int(dy.sum())) ** 2
    want = num / np.sqrt(vx * vy)
    assert row.n_nodes == len(deg) and row.n_edges == len(pairs)
    assert float(row.assortativity) == pytest.approx(want, abs=2e-6)


@pytest.mark.parametrize("seed", [61])
def test_cramers_v_matches_scipy_free_model(spark, tmp_path, seed):
    """Cramér's V vs an explicit chi-square model — one corpus where
    source fully determines lang (V == 1) and one independent mix
    (V near 0), both checked exactly."""
    from parquet_stream_writer_spark.operators.staged3 import (
        text_lang_source_cramers_v,
    )

    rng = np.random.default_rng(seed)

    def build(langs, sources):
        n = len(langs)
        return pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype="int64"),
                "text": ["t"] * n,
                "lang": langs,
                "source": sources,
                "n_chars": np.ones(n, dtype="int64"),
            }
        )

    # Determined: each source serves exactly one language.
    langs = list(rng.choice(["en", "de", "fr"], 300))
    det = build(langs, [{"en": "s1", "de": "s2", "fr": "s3"}[l] for l in langs])
    sf = _write(tmp_path, "documents", det)
    row = text_lang_source_cramers_v(spark, sf).collect()[0]
    assert float(row.cramers_v) == pytest.approx(1.0, abs=1e-6)

    # Independent: source drawn independently of lang.
    ind = build(langs, list(rng.choice(["s1", "s2", "s3", "s4"], 300)))
    sf2_dir = tmp_path / "c2"
    sf2_dir.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(ind), sf2_dir / "documents.parquet")
    row2 = text_lang_source_cramers_v(spark, str(sf2_dir)).collect()[0]

    cells = ind.groupby(["lang", "source"]).size()
    rt = ind.groupby("lang").size()
    ct = ind.groupby("source").size()
    ntot = len(ind)
    chi2 = 0.0
    for (l, s) in sorted(cells.index):
        e = rt[l] * ct[s] / ntot
        chi2 += (cells[(l, s)] - e) ** 2 / e
    want_v = np.sqrt(chi2 / (ntot * (min(rt.size, ct.size) - 1)))
    assert float(row2.cramers_v) == pytest.approx(want_v, abs=2e-6)
    assert float(row2.cramers_v) < 0.3 < float(row.cramers_v)


@pytest.mark.parametrize("seed", [67, 929])
def test_boilerplate_ngrams_matches_bruteforce(spark, tmp_path, seed):
    """Boilerplate span report vs a python sliding-window model — a
    planted footer phrase appears in most docs (must rank first) and
    df ties between planted phrases pin the (df desc, gram asc)
    order."""
    from parquet_stream_writer_spark.operators.staged3 import (
        _BOILER_MIN_DF,
        _BOILER_W,
        text_boilerplate_ngrams,
    )

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(300)]
    footer = "subscribe to our newsletter for daily updates"
    promo = "limited time offer ends this very friday"
    texts = []
    for d in range(80):
        words = list(rng.choice(vocab, 20))
        if d % 2 == 0:
            words += footer.split()
        if d % 4 == 0:
            words += promo.split()
        texts.append(" ".join(words))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(80, dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": "s",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = _write(tmp_path, "documents", docs)
    got = [
        (r.gram, r.df_docs, r.occurrences)
        for r in text_boilerplate_ngrams(spark, sf).collect()
    ]

    from collections import defaultdict

    df_docs = defaultdict(set)
    occ = defaultdict(int)
    for d, t in zip(docs.doc_id, docs.text):
        ws = t.split()
        for i in range(len(ws) - _BOILER_W + 1):
            g = " ".join(ws[i : i + _BOILER_W])
            df_docs[g].add(int(d))
            occ[g] += 1
    ranked = sorted(
        ((len(ds), g) for g, ds in df_docs.items() if len(ds) >= _BOILER_MIN_DF),
        key=lambda t: (-t[0], t[1]),
    )
    # Model ranks by (df, gram); the op ranks by (df, md5-hash) then
    # REPORTS sorted by (df desc, gram asc) — compare as sets per df
    # tier for the tiers fully inside the top-20 cut.
    got_set = {(g, d, o) for g, d, o in got}
    # The footer 6-grams (df=40) must all be present and first.
    footer_grams = [
        " ".join(footer.split()[i : i + _BOILER_W])
        for i in range(len(footer.split()) - _BOILER_W + 1)
    ]
    for fg in footer_grams:
        assert (fg, len(df_docs[fg]), occ[fg]) in got_set
    assert got[0][1] == ranked[0][0] == 40
    # Every reported row's numbers must match the model exactly.
    for g, d, o in got:
        assert len(df_docs[g]) == d and occ[g] == o


@pytest.mark.parametrize("seed", [71])
def test_chunk_dedup_matches_bruteforce(spark, tmp_path, seed):
    """Chunk-level dedup vs a python 64-byte chunker — docs built from
    a small set of shared 64-byte blocks plant exact chunk collisions,
    and multi-byte UTF-8 pins byte (not char) chunking."""
    from parquet_stream_writer_spark.operators.staged3 import (
        multimodal_payload_chunk_dedup,
    )

    rng = np.random.default_rng(seed)
    blocks = [
        ("é" * 16 + f"b{i:02d}" + "x" * 28)[:48] for i in range(6)
    ]  # é is 2 bytes -> 16*2+4+28 = 64 bytes
    texts = []
    for _ in range(40):
        ks = rng.integers(0, 6, rng.integers(1, 5))
        texts.append("".join(blocks[k] for k in ks))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(40, dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": ["sA" if i < 20 else "sB" for i in range(40)],
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = _write(tmp_path, "documents", docs)
    got = {
        (r.source, r.total_chunks, r.unique_chunks, r.reclaim_bytes)
        for r in multimodal_payload_chunk_dedup(spark, sf).collect()
    }

    want = set()
    for src, g in docs.groupby("source"):
        chunks = []
        for t in g.text:
            b = t.encode("utf-8")
            chunks += [b[i : i + 64] for i in range(0, len(b), 64)]
        total, uniq = len(chunks), len(set(chunks))
        want.add((src, total, uniq, (total - uniq) * 64))
    assert got == want
    assert any(t - u > 0 for _s, t, u, _r in want)  # collisions planted


@pytest.mark.parametrize("seed", [83, 511])
def test_trade_balance_matches_bruteforce(spark, tmp_path, seed):
    """Trade-balance matrix vs a pandas model — asymmetric planted
    flows make net balances nonzero in both directions."""
    from parquet_stream_writer_spark.operators.staged3 import (
        orders_trade_balance_matrix,
    )

    rng = np.random.default_rng(seed)
    n = 400
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype="int64"),
            "l_suppkey": rng.integers(0, 8, n).astype("int64"),
            "l_extendedprice": rng.integers(100, 9999, n) / 100.0,
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, 30, n).astype("int64"),
        }
    )
    cust = pd.DataFrame(
        {
            "c_custkey": np.arange(30, dtype="int64"),
            "c_nationkey": (np.arange(30) % 4).astype("int32"),
        }
    )
    supp = pd.DataFrame(
        {
            "s_suppkey": np.arange(8, dtype="int64"),
            "s_nationkey": (np.arange(8) % 4).astype("int32"),
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(4, dtype="int32"),
            "n_name": [f"NAT{i}" for i in range(4)],
        }
    )
    sf = _write(tmp_path, "lineitem", li)
    for name, df in (("orders", orders), ("customer", cust), ("supplier", supp), ("nation", nation)):
        _write(tmp_path, name, df)
    got = {
        (r.cust_nation, r.supp_nation, r.n_lines, r.revenue_cents, r.net_balance_cents)
        for r in orders_trade_balance_matrix(spark, sf).collect()
    }

    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    j = j.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j = j.merge(supp, left_on="l_suppkey", right_on="s_suppkey")
    j["cents"] = np.floor(j.l_extendedprice * 100 + 0.5).astype("int64")
    cells = j.groupby(["c_nationkey", "s_nationkey"]).agg(
        n_lines=("cents", "size"), revenue_cents=("cents", "sum")
    )
    want = set()
    for (cn, sn), row in cells.iterrows():
        mirror = (
            int(cells.loc[(sn, cn)].revenue_cents)
            if (sn, cn) in cells.index
            else 0
        )
        want.add(
            (
                f"NAT{cn}",
                f"NAT{sn}",
                int(row.n_lines),
                int(row.revenue_cents),
                int(row.revenue_cents) - mirror,
            )
        )
    assert got == want
    assert any(b != 0 for *_x, b in want)


@pytest.mark.parametrize("seed", [97])
def test_pattern_match_finds_planted_spike(spark, tmp_path, seed):
    """Subsequence search vs a numpy z-distance model — one event type
    carries an exact scaled copy of the query spike (z-distance 0 must
    rank first); a noise type fills the rest of the board."""
    from parquet_stream_writer_spark.operators.staged3 import (
        _PATTERN,
        _pattern_z,
        events_pattern_match_topk,
    )

    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    base = pd.Timestamp("2024-03-01")

    def day_events(day_idx, etype, count):
        nonlocal eid
        for _ in range(count):
            rows.append(
                (
                    eid,
                    base + pd.Timedelta(days=day_idx, seconds=eid % 1800),
                    eid % 7,
                    etype,
                    1.0,
                    "{}",
                )
            )
            eid += 1

    # "spiky": 10 flat days, then an exact 5x-scaled copy of _PATTERN.
    for d in range(10):
        day_events(d, "spiky", 3)
    for i, v in enumerate(_PATTERN):
        day_events(10 + i, "spiky", int(v * 5))
    # "noise": jittered counts.
    for d in range(25):
        day_events(d, "noise", int(rng.integers(2, 9)))
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = _write(tmp_path, "events", ev)
    got = [
        (r.event_type, r.window_start_day, float(r.z_distance))
        for r in events_pattern_match_topk(spark, sf).collect()
    ]

    # The scaled copy z-normalizes to the query exactly: distance 0.
    assert got[0][0] == "spiky" and got[0][2] == 0.0
    # Model every window's distance and check the reported ones.
    qz = np.array(_pattern_z())
    model = {}
    for etype, g in ev.groupby("event_type"):
        days = (
            g.ts.values.astype("datetime64[us]").astype("int64") // 86_400_000_000
        )
        daily = pd.Series(days).value_counts().sort_index()
        dvals, c = daily.index.to_numpy("int64"), daily.to_numpy("int64")
        for i in range(len(c) - 6):
            if dvals[i + 6] - dvals[i] != 6:
                continue
            w = c[i : i + 7].astype("float64")
            sd = np.sqrt(((7 * (w**2).sum() - w.sum() ** 2) / 49))
            if sd == 0:
                continue
            z = (w - w.sum() / 7) / sd
            model[(etype, int(dvals[i]))] = float(
                np.floor(((qz - z) ** 2).sum() * 1e6 + 0.5) / 1e6
            )
    for etype, d0, dist in got:
        assert model[(etype, d0)] == pytest.approx(dist, abs=2e-6)
    assert got == sorted(got, key=lambda t: (t[2], t[0], t[1]))[: len(got)]


def test_sequence_pattern_journey_cap_bounds_mega_user(spark, tmp_path):
    """Scale guard (VERDICT r8 item 3): one bot user with more events
    than ``_SEQ_MAX_EVENTS_PER_USER`` must contribute only its FIRST K
    events (by (ts, event_id)) to the journey string — bounding the
    per-user aggregation buffer — and the cap must bind identically in
    the DuckDB oracle (differential replay below)."""
    import duckdb

    import parquet_stream_writer_spark.operators.staged3 as s3

    base = pd.Timestamp("2024-03-01")
    rows = []
    eid = 0

    def ev(user, etype):
        nonlocal eid
        rows.append((eid, base + pd.Timedelta(seconds=eid), user, etype, 1.0, "{}"))
        eid += 1

    # Normal user: one clean v v c p journey (1 match).
    for t in ["view", "view", "click", "purchase"]:
        ev(1, t)
    # Bot user: K noise events FIRST, then a v c p tail that must be
    # truncated away by the cap.
    cap = 12
    orig = s3._SEQ_MAX_EVENTS_PER_USER
    s3._SEQ_MAX_EVENTS_PER_USER = cap
    try:
        for _ in range(cap):
            ev(2, "error")
        for t in ["view", "click", "purchase"]:
            ev(2, t)  # beyond the cap: must NOT count as a match
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        sf = _write(tmp_path, "events", pdf)
        # The oracle interpolates the cap at module constant level; the
        # query reads it at call time — rebuild the SQL under the test cap.
        sql = s3.ORACLE["events_sequence_pattern_detect"].replace(
            f"rn <= {orig}", f"rn <= {cap}"
        )
        got = s3.events_sequence_pattern_detect(spark, sf).collect()[0]
        assert got.n_users == 2
        assert got.users_matched == 1, "bot tail beyond cap must not match"
        assert got.total_matches == 1
        # mean journey length: user1 = 4, user2 capped at 12 → 8.0
        assert float(got.mean_journey_len) == 8.0

        con = duckdb.connect()
        con.register("events", pdf)
        oracle = con.sql(sql).fetchall()[0]
        assert (
            got.n_users,
            got.users_matched,
            got.total_matches,
            float(got.match_rate),
            float(got.mean_journey_len),
        ) == (
            oracle[0],
            oracle[1],
            oracle[2],
            float(oracle[3]),
            float(oracle[4]),
        )
    finally:
        s3._SEQ_MAX_EVENTS_PER_USER = orig
