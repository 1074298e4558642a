"""Round-5 regression + property tests: interval_join default names
and bin-width invariance, tile_rollup coarse-row guard."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from gfp_gdal_spark.operators.temporal import interval_join


def test_interval_join_defaults_usable(spark):
    """The advertised default column names must work out of the box
    (ADVICE r4: the old lo/hi-both-sides defaults were self-colliding
    and raised AnalysisException on any call that used them)."""
    l = spark.createDataFrame(
        pd.DataFrame({"lid": [0, 1], "l_lo": [0.0, 10.0], "l_hi": [5.0, 12.0]})
    )
    r = spark.createDataFrame(
        pd.DataFrame({"rid": [0, 1], "r_lo": [4.0, 100.0], "r_hi": [9.0, 101.0]})
    )
    got = {(row["lid"], row["rid"]) for row in interval_join(l, r, 8.0).collect()}
    assert got == {(0, 0)}


def test_interval_join_colliding_names_fail_loud(spark):
    l = spark.createDataFrame(pd.DataFrame({"lo": [0.0], "hi": [1.0]}))
    r = spark.createDataFrame(pd.DataFrame({"lo": [0.0], "hi": [1.0]}))
    with pytest.raises(ValueError, match="collide"):
        interval_join(l, r, 1.0, l_lo="lo", l_hi="hi", r_lo="lo", r_hi="hi")


@settings(max_examples=25, deadline=None)
@given(
    st.integers(0, 10**6),
    st.floats(0.05, 2000.0),
    st.floats(0.05, 2000.0),
)
def test_interval_join_bin_width_invariance(seed, w1, w2):
    """The output pair set is a function of the DATA only: any two bin
    widths — including widths far larger and far smaller than every
    interval — must produce the same pairs as the brute-force overlap
    matrix (VERDICT r4 ask #8). Uses a module-scoped session via the
    lazily imported conftest fixture pattern: hypothesis can't take
    fixtures, so grab the active session."""
    from gfp_gdal_spark.session import get_spark

    spark = get_spark()
    rng = np.random.default_rng(seed)
    nl, nr = 25, 30
    l_lo = rng.uniform(-300, 300, nl)
    l_hi = l_lo + rng.uniform(0.0, 150.0, nl) * rng.choice([0.0, 0.02, 1.0], nl)
    r_lo = rng.uniform(-300, 300, nr)
    r_hi = r_lo + rng.uniform(0.0, 150.0, nr) * rng.choice([0.0, 0.02, 1.0], nr)
    want = {
        (i, j)
        for i in range(nl)
        for j in range(nr)
        if l_lo[i] <= r_hi[j] and r_lo[j] <= l_hi[i]
    }
    l = spark.createDataFrame(pd.DataFrame({"lid": range(nl), "l_lo": l_lo, "l_hi": l_hi}))
    r = spark.createDataFrame(pd.DataFrame({"rid": range(nr), "r_lo": r_lo, "r_hi": r_hi}))
    for w in (w1, w2):
        rows = interval_join(l, r, bin_width=w).collect()
        got = [(row["lid"], row["rid"]) for row in rows]
        assert len(got) == len(set(got)), f"duplicate pairs at width {w}"
        assert set(got) == want, f"width {w}"


def test_tile_rollup_drops_rows_coarser_than_target(spark):
    """Rows with tile_z < z_to cannot be represented at the finer
    requested level; they must be excluded, not shifted by a negative
    (mod-64-masked) count into garbage coordinates (ADVICE r4)."""
    from gfp_gdal_spark.operators.joins import tile_rollup

    rows = pd.DataFrame(
        {
            "tile_z": [12, 12, 10, 8],  # the z=8 row is coarser than z_to=10
            "tile_x": [4096, 4097, 1024, 255],
            "tile_y": [2048, 2048, 512, 63],
        }
    )
    df = spark.createDataFrame(rows)
    out = tile_rollup(df, z_to=10)
    got = {
        (r["tile_z"], r["tile_x"], r["tile_y"]): r["n"] for r in out.collect()
    }
    assert got == {
        (12, 4096, 2048): 1,
        (12, 4097, 2048): 1,
        (11, 2048, 1024): 2,
        (10, 1024, 512): 3,  # two z=12 children + the native z=10 row
    }
    # no z=8 rows and nothing below z_to leaks through
    assert all(z >= 10 for z, _, _ in got)


def test_sample_per_group_sharded_parity_and_bound(spark):
    """shards=k must return the BIT-IDENTICAL sample to the plain
    path on a planted hot group, while the widest first-pass window
    partition shrinks ~k-fold (VERDICT r4 ask #1)."""
    from gfp_gdal_spark.operators.sampling import sample_per_group

    rng = np.random.default_rng(7)
    ids = np.arange(20_000, dtype=np.int64)
    grp = np.where(ids < 16_000, 0, 1 + (ids % 37))  # group 0 is hot
    df = spark.createDataFrame(
        pd.DataFrame({"g": grp, "id": ids})
    ).repartition(8).cache()
    plain = sample_per_group(df, by="g", n=7, id_col="id")
    shard = sample_per_group(df, by="g", n=7, id_col="id", shards=8)
    a = sorted((r["g"], r["id"]) for r in plain.collect())
    b = sorted((r["g"], r["id"]) for r in shard.collect())
    assert a == b
    # empirical partition bound: widest (g, shard) cell ~ hot/8
    knuth, mod = 2654435761, 1 << 32
    sh = ((ids + 0x9E3779B9) % (1 << 31) * knuth) % mod % 8
    per_cell = pd.Series(zip(grp, sh)).value_counts().max()
    assert per_cell < 16_000 / 8 * 1.3
    # the first-pass window really partitions on the shard column
    plan = shard._jdf.queryExecution().executedPlan().toString()
    assert "_shard" in plan
    df.unpersist()


def test_sessionize_time_bucket_parity_any_width(spark):
    """time_bucket=w must be bit-identical to the plain window path
    for widths >> gap, ~ gap, and << gap — boundary sessions stitch on
    real timestamps, empty ranges are skipped (VERDICT r4 ask #1)."""
    from gfp_gdal_spark.operators.sampling import sessionize

    rng = np.random.default_rng(13)
    # hot key 0: long stream with gaps above/below the threshold and a
    # huge jump (many empty ranges); a few cold keys too
    steps = rng.choice([1.0, 5.0, 61.0, 3600.0, 100_000.0], 4000,
                       p=[0.55, 0.2, 0.15, 0.08, 0.02])
    t0 = np.cumsum(steps) + 12.3
    rows = pd.DataFrame({
        "k": np.concatenate([np.zeros(4000, np.int64), (1 + np.arange(300) % 5)]),
        "eid": np.arange(4300, dtype=np.int64),
        "t": np.concatenate([t0, np.sort(rng.uniform(0, 5e5, 300))]),
    })
    # plant exact ties on the hot key (tiebreak must decide identically)
    rows.loc[10, "t"] = rows.loc[11, "t"]
    df = spark.createDataFrame(rows).repartition(8).cache()
    base = sessionize(df, by="k", ts="t", gap=60.0, tiebreak="eid")
    want = sorted((r["k"], r["eid"], r["session_idx"]) for r in base.collect())
    for width in (1e6, 600.0, 7.0):  # >> gap, ~10x gap, << gap
        got = sessionize(df, by="k", ts="t", gap=60.0, tiebreak="eid",
                         time_bucket=width)
        assert sorted(
            (r["k"], r["eid"], r["session_idx"]) for r in got.collect()
        ) == want, f"width {width}"
    df.unpersist()


def test_sessionize_time_bucket_window_specs(spark):
    """Plan-level guarantee for the hot-key path: every Window over the
    EVENT stream partitions on (key, _rg) — the summary-stitch cascade
    (the one window on the bare key) runs over O(#ranges) rows/key and
    is identified by its _rg ordering column (the asof-cascade test
    pattern from tests/test_round3_props.py)."""
    import re

    from gfp_gdal_spark.operators.sampling import sessionize

    df = spark.createDataFrame(
        pd.DataFrame({"k": [0] * 50, "eid": range(50),
                      "t": np.arange(50) * 40.0})
    )
    out = sessionize(df, by="k", ts="t", gap=60.0, tiebreak="eid",
                     time_bucket=500.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "no Window nodes found"
    event_windows = 0
    for spec in specs:
        toks = [t.strip() for t in spec.split(",")]
        part = [t for t in toks if "ASC" not in t and "DESC" not in t and "frame" not in t]
        order = [t for t in toks if "ASC" in t or "DESC" in t]
        if any("_rg" in t for t in order):
            continue  # the O(#ranges)-rows/key summary stitch
        assert any("_rg" in t for t in part), f"event window partitions on {part!r}"
        event_windows += 1
    assert event_windows >= 1  # the pass-1 local-sessionize window


def test_weighted_sample_per_group_parity_and_shards(spark):
    """Efraimidis-Spirakis priority sampling vs a numpy replication of
    the exact arithmetic (mix -> u -> round(pow(u, 1/w), 12) -> top-n
    by (priority desc, id)); sharded path must match plain exactly;
    non-positive weights are excluded."""
    from gfp_gdal_spark.operators.sampling import weighted_sample_per_group

    rng = np.random.default_rng(21)
    ids = np.arange(5000, dtype=np.int64)
    grp = ids % 13
    wts = np.round(rng.uniform(0.1, 9.0, 5000), 3)
    wts[::97] = 0.0  # planted excluded rows
    df = spark.createDataFrame(pd.DataFrame({"g": grp, "id": ids, "w": wts}))
    out = weighted_sample_per_group(df, by="g", n=6, id_col="id", weight="w")
    got = sorted((r["g"], r["id"]) for r in out.collect())
    # numpy oracle
    knuth, mod = 2654435761, 1 << 32
    u = (((ids % (1 << 31)) * knuth) % mod + 0.5) / mod
    prio = np.round(u ** (1.0 / np.where(wts > 0, wts, np.nan)), 12)
    want = []
    for g in range(13):
        m = (grp == g) & (wts > 0)
        order = sorted(zip(-prio[m], ids[m]))[:6]
        want += [(g, int(i)) for _, i in order]
    assert got == sorted(want)
    sharded = weighted_sample_per_group(
        df, by="g", n=6, id_col="id", weight="w", shards=4
    )
    assert sorted((r["g"], r["id"]) for r in sharded.collect()) == got


def test_stratified_split_decorrelated_and_portable(spark):
    """Per-group mixing: the SAME id under two groups must draw
    independent assignments (plain hash_split would correlate them);
    assignment matches the numpy replication of the nested-mix
    arithmetic; non-integer group columns fail loud."""
    from gfp_gdal_spark.operators.sampling import stratified_split

    ids = np.tile(np.arange(2000, dtype=np.int64), 2)
    grp = np.repeat(np.array([3, 8], dtype=np.int64), 2000)
    df = spark.createDataFrame(pd.DataFrame({"g": grp, "id": ids}))
    out = stratified_split(df, by="g", id_col="id",
                           fractions={"train": 0.8, "val": 0.2})
    got = {(r["g"], r["id"]): r["split"] for r in out.collect()}
    knuth, mod, m31 = 2654435761, 1 << 32, 1 << 31
    mix = lambda x: ((x % m31) * knuth) % mod  # noqa: E731
    u = mix(mix(grp) ^ (ids % m31)) / mod
    for (gg, ii, uu) in zip(grp, ids, u):
        want = "train" if uu < 0.8 else "val"
        assert got[(int(gg), int(ii))] == want
    # decorrelation: assignments differ between groups for many ids
    diff = sum(got[(3, i)] != got[(8, i)] for i in range(2000))
    assert 400 < diff  # ~2*0.8*0.2*2000 = 640 expected
    sdf = spark.createDataFrame(pd.DataFrame({"g": ["a"] * 3, "id": [1, 2, 3]}))
    with pytest.raises(ValueError, match="integer group column"):
        stratified_split(sdf, by="g", id_col="id", fractions={"t": 1.0})


def test_interval_union_length_matches_bruteforce(spark):
    """Sweep-line union length vs a numpy merge on random overlapping
    interval sets (duplicates, containment, zero-length, negatives);
    the plan must reuse the window's hash partitioning for the final
    agg (one Exchange total)."""
    from gfp_gdal_spark.operators.temporal import interval_union_length

    rng = np.random.default_rng(31)
    n = 3000
    key = rng.integers(0, 20, n)
    lo = np.round(rng.uniform(-500, 500, n), 2)
    ln = rng.choice([0.0, 1.0, 40.0, 300.0], n) * np.round(rng.uniform(0, 1, n), 2)
    hi = np.round(lo + ln, 2)
    df = spark.createDataFrame(pd.DataFrame({"k": key, "lo": lo, "hi": hi}))
    out = {r["k"]: r["covered"] for r in
           interval_union_length(df, by="k").collect()}
    for g in range(20):
        ivs = sorted(zip(lo[key == g], hi[key == g]))
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if cur_hi is None or a > cur_hi:
                total += 0.0 if cur_hi is None else cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        assert out[g] == pytest.approx(total, abs=1e-6), f"key {g}"
    plan = interval_union_length(df, by="k")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, "window partitioning not reused by the agg"


def test_bbox_join_random_parity(spark):
    """bbox_join vs the brute-force rectangle-overlap matrix across
    zoom levels (canonical-tile dedup must emit every overlapping pair
    exactly once — touching edges, containment, zero-area rects,
    rects spanning many tiles)."""
    from gfp_gdal_spark.operators.joins import bbox_join

    rng = np.random.default_rng(41)
    nl, nr = 70, 90
    lmnx = rng.uniform(-170, 160, nl)
    lmny = rng.uniform(-75, 70, nl)
    lmxx = lmnx + rng.choice([0.0, 0.5, 5.0, 40.0], nl) * rng.uniform(0, 1, nl)
    lmxy = lmny + rng.choice([0.0, 0.5, 4.0, 20.0], nl) * rng.uniform(0, 1, nl)
    rmnx = rng.uniform(-170, 160, nr)
    rmny = rng.uniform(-75, 70, nr)
    rmxx = rmnx + rng.choice([0.0, 1.0, 8.0, 30.0], nr) * rng.uniform(0, 1, nr)
    rmxy = rmny + rng.choice([0.0, 1.0, 6.0, 15.0], nr) * rng.uniform(0, 1, nr)
    want = {
        (i, j)
        for i in range(nl)
        for j in range(nr)
        if lmnx[i] <= rmxx[j] and rmnx[j] <= lmxx[i]
        and lmny[i] <= rmxy[j] and rmny[j] <= lmxy[i]
    }
    l = spark.createDataFrame(pd.DataFrame(
        {"lid": range(nl), "l_min_lon": lmnx, "l_min_lat": lmny,
         "l_max_lon": lmxx, "l_max_lat": lmxy}))
    r = spark.createDataFrame(pd.DataFrame(
        {"rid": range(nr), "r_min_lon": rmnx, "r_min_lat": rmny,
         "r_max_lon": rmxx, "r_max_lat": rmxy}))
    for z in (3, 6, 9):
        got = [(row["lid"], row["rid"]) for row in bbox_join(l, r, z=z).collect()]
        assert len(got) == len(set(got)), f"duplicate pairs at z={z}"
        assert set(got) == want, f"z={z}"
    with pytest.raises(ValueError, match="collide"):
        bbox_join(l, r, l_cols=("l_min_lon", "l_min_lat", "l_max_lon", "l_max_lat"),
                  r_cols=("l_min_lon", "r_min_lat", "r_max_lon", "r_max_lat"))


def test_hamming_pairs_bruteforce(spark):
    """hamming_pairs vs the full popcount matrix: 300 signatures drawn
    from 40 bases with 0-9 random bit flips (dense near-dup structure,
    exact duplicates included), checked at several thresholds and
    block counts — canonical-block dedup must emit each qualifying
    pair exactly once."""
    from gfp_gdal_spark.operators.dedup import hamming_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(0, 2**63, 40, dtype=np.uint64)
    sigs = []
    for i in range(300):
        v = base[i % 40]
        for b in rng.integers(0, 64, int(rng.integers(0, 10))):
            v ^= np.uint64(1) << np.uint64(b)
        sigs.append(v)
    sigs = np.array(sigs, dtype=np.uint64)
    x = sigs[:, None] ^ sigs[None, :]
    d = np.zeros_like(x, dtype=np.int64)
    v = x.copy()
    for _ in range(64):
        d += (v & np.uint64(1)).astype(np.int64)
        v >>= np.uint64(1)
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(300), "sig": sigs.view(np.int64)}))
    for h, nb in [(0, 1), (3, 4), (3, None), (6, None), (6, 16)]:
        want = {(i, j): d[i, j] for i in range(300) for j in range(i + 1, 300)
                if d[i, j] <= h}
        rows = hamming_pairs(df, sig="sig", id_col="id",
                             max_hamming=h, n_blocks=nb).collect()
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
        assert len(rows) == len(got), f"duplicate pairs h={h} nb={nb}"
        assert got == want, f"h={h} nb={nb}"
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_pairs(df, sig="sig", id_col="id", max_hamming=4, n_blocks=4)


def test_overlap_clusters_bruteforce(spark):
    """overlap_clusters vs driver-side union-find over the brute-force
    overlap matrix: random rects (containment, touching edges, long
    thin spans) plus guaranteed singletons; string ids."""
    from gfp_gdal_spark.operators.joins import overlap_clusters

    rng = np.random.default_rng(13)
    n = 120
    mnx = rng.uniform(-170, 150, n)
    mny = rng.uniform(-75, 60, n)
    mxx = mnx + rng.choice([0.2, 3.0, 25.0], n) * rng.uniform(0.1, 1, n)
    mxy = mny + rng.choice([0.2, 3.0, 12.0], n) * rng.uniform(0.1, 1, n)
    ids = [f"b{i:05d}" for i in range(n)]
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if mnx[i] <= mxx[j] and mnx[j] <= mxx[i] and mny[i] <= mxy[j] and mny[j] <= mxy[i]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    want = {ids[i]: ids[min(find(i), i)] for i in range(n)}
    # min-id representative per component
    reps = {}
    for i in range(n):
        r = find(i)
        reps.setdefault(r, ids[i])
    want = {ids[i]: reps[find(i)] for i in range(n)}

    df = spark.createDataFrame(pd.DataFrame(
        {"image_id": ids, "min_lon": mnx, "min_lat": mny,
         "max_lon": mxx, "max_lat": mxy}))
    out = overlap_clusters(df, id_col="image_id", z=5)
    got = {r["image_id"]: r["cluster_id"] for r in out.collect()}
    assert got == want


def test_pack_chunks_bruteforce(spark):
    """pack_chunks vs a driver-side replay of the concat-and-chunk
    contract: per shard, sort by (mix, id), lay tokens end-to-end, cut
    every `budget`. Checks offsets, chunk ranges, span counts, and the
    stream-conservation invariant (per-shard token sum == max offset +
    last doc's tokens)."""
    from gfp_gdal_spark.operators.sampling import pack_chunks

    rng = np.random.default_rng(7)
    n = 400
    ids = rng.permutation(np.arange(10_000, 10_000 + n)).astype(np.int64)
    toks = rng.integers(0, 900, n).astype(np.int64)  # includes zero-token docs
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ids, "n_tokens": toks}))
    budget, shards, salt = 256, 8, 3
    out = pack_chunks(df, id_col="doc_id", tokens="n_tokens",
                      budget=budget, shards=shards, salt=salt).collect()

    mix = lambda k: ((int(k + salt) % 2**31) * 2654435761) % 2**32
    rows = sorted(
        [(mix(i), int(i), int(t)) for i, t in zip(ids, toks) if t > 0]
    )
    want = {}
    cur = {}
    for u, i, t in rows:
        s = u % shards
        off = cur.get(s, 0)
        want[i] = (s, off, off // budget, (off + t - 1) // budget)
        cur[s] = off + t
    assert len(out) == len(want)
    for r in out:
        s, off, cf, cl = want[r["doc_id"]]
        assert (r["shard"], r["tok_offset"], r["chunk_first"], r["chunk_last"]) == (s, off, cf, cl), r
        assert r["n_chunks"] == cl - cf + 1
    with pytest.raises(ValueError, match="positive"):
        pack_chunks(df, id_col="doc_id", tokens="n_tokens", budget=0)


# ---------------------------------------------------------------------------
# map algebra (focal / terrain / zonal)


def _rand_grid(spark, seed, nk=3, h=12, w=15):
    rng = np.random.default_rng(seed)
    rows = []
    for k in range(nk):
        z = rng.integers(0, 255, (h, w)).astype(float)
        for r in range(h):
            for c in range(w):
                rows.append((f"img{k}", r, c, z[r, c]))
    pdf = pd.DataFrame(rows, columns=["image_id", "r", "c", "z"])
    return spark.createDataFrame(pdf), {
        f"img{k}": pdf[pdf.image_id == f"img{k}"]
        .pivot(index="r", columns="c", values="z")
        .to_numpy()
        for k in range(nk)
    }


@pytest.mark.parametrize("radius", [1, 2])
def test_focal_stats_bruteforce(spark, radius):
    from gfp_gdal_spark.operators.map_algebra import focal_stats

    df, grids = _rand_grid(spark, 11)
    out = focal_stats(df, radius=radius, interior_only=False).collect()
    h, w = next(iter(grids.values())).shape
    assert len(out) == len(grids) * h * w  # every real cell, no phantoms
    for row in out:
        z = grids[row["image_id"]]
        r, c = row["r"], row["c"]
        win = z[max(0, r - radius): r + radius + 1, max(0, c - radius): c + radius + 1]
        assert row["n_nbrs"] == win.size
        assert row["focal_min"] == win.min()
        assert row["focal_max"] == win.max()
        assert abs(row["focal_sum"] - win.sum()) < 1e-9
        assert abs(row["focal_mean"] - win.mean()) < 1e-9

    interior = focal_stats(df, radius=radius, interior_only=True).collect()
    assert len(interior) == len(grids) * (h - 2 * radius) * (w - 2 * radius)
    assert all(row["n_nbrs"] == (2 * radius + 1) ** 2 for row in interior)


def test_focal_stats_single_shuffle(spark):
    from gfp_gdal_spark.operators.map_algebra import focal_stats

    df, _ = _rand_grid(spark, 1, nk=1, h=4, w=4)
    plan = focal_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_slope_hillshade_bruteforce(spark):
    import math

    from gfp_gdal_spark.operators.map_algebra import slope_hillshade

    df, grids = _rand_grid(spark, 23, nk=2, h=10, w=11)
    cs, zf, azi, alt = 2.5, 0.7, 315.0, 45.0
    out = slope_hillshade(
        df, cellsize=cs, z_factor=zf, azimuth=azi, altitude=alt
    ).collect()
    h, w = next(iter(grids.values())).shape
    assert len(out) == len(grids) * (h - 2) * (w - 2)
    zen = math.radians(90.0 - alt)
    azm = math.radians((360.0 - azi + 90.0) % 360.0)
    for row in out:
        z = grids[row["image_id"]]
        r, c = row["r"], row["c"]
        win = z[r - 1: r + 2, c - 1: c + 2]
        gx = ((win[0, 2] + 2 * win[1, 2] + win[2, 2])
              - (win[0, 0] + 2 * win[1, 0] + win[2, 0])) / (8 * cs)
        gy = ((win[2, 0] + 2 * win[2, 1] + win[2, 2])
              - (win[0, 0] + 2 * win[0, 1] + win[0, 2])) / (8 * cs)
        slope = math.atan(zf * math.hypot(gx, gy))
        aspect = math.atan2(gy, -gx) % (2 * math.pi)
        shade = max(
            0.0,
            255.0 * (math.cos(zen) * math.cos(slope)
                     + math.sin(zen) * math.sin(slope) * math.cos(azm - aspect)),
        )
        assert abs(row["dzdx"] - round(gx, 9)) < 1e-9
        assert abs(row["dzdy"] - round(gy, 9)) < 1e-9
        assert abs(row["slope_rad"] - slope) < 1e-9
        assert abs(row["aspect_rad"] - aspect) < 1e-9
        assert abs(row["hillshade"] - shade) < 1e-6


def test_terrain_ruggedness_bruteforce(spark):
    from gfp_gdal_spark.operators.map_algebra import terrain_ruggedness

    df, grids = _rand_grid(spark, 37, nk=2, h=9, w=10)
    out = terrain_ruggedness(df, interior_only=False).collect()
    h, w = next(iter(grids.values())).shape
    assert len(out) == len(grids) * h * w
    for row in out:
        z = grids[row["image_id"]]
        r, c = row["r"], row["c"]
        win = z[max(0, r - 1): r + 2, max(0, c - 1): c + 2]
        zc = z[r, c]
        nbrs = np.array([
            z[r + dr, c + dc]
            for dr in (-1, 0, 1)
            for dc in (-1, 0, 1)
            if (dr, dc) != (0, 0)
            and 0 <= r + dr < h and 0 <= c + dc < w
        ])
        assert row["n_nbrs"] == nbrs.size
        assert abs(row["tri"] - np.sqrt(((nbrs - zc) ** 2).sum())) < 1e-9
        assert abs(row["tpi"] - (zc - nbrs.mean())) < 1e-9
        assert row["roughness"] == win.max() - win.min()
    interior = terrain_ruggedness(df).collect()
    assert len(interior) == len(grids) * (h - 2) * (w - 2)
    assert all(r["n_nbrs"] == 8 for r in interior)


def test_terrain_ruggedness_single_shuffle(spark):
    from gfp_gdal_spark.operators.map_algebra import terrain_ruggedness

    df, _ = _rand_grid(spark, 2, nk=1, h=4, w=4)
    plan = terrain_ruggedness(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_zonal_stats_bruteforce(spark):
    from gfp_gdal_spark.operators.map_algebra import zonal_stats

    rng = np.random.default_rng(5)
    n = 600
    pts = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon_c": rng.uniform(-40, 40, n),
            "lat_c": rng.uniform(-30, 30, n),
            "z": rng.uniform(0, 100, n),
        }
    )
    zones = []
    for zid in range(12):
        x0 = -45 + (zid % 4) * 22.0
        y0 = -33 + (zid // 4) * 21.0
        x1, y1 = x0 + 18.0, y0 + 16.0
        zones.append((zid, x0, y0, x1, y1,
                      [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]))
    zdf = spark.createDataFrame(
        [(z[0], z[5]) for z in zones], "zone_id int, ring array<array<double>>"
    )
    out = zonal_stats(
        spark.createDataFrame(pts), zdf, zone_id="zone_id",
        z=4, holes=None, broadcast=True,
    ).collect()
    want = {}
    for zid, x0, y0, x1, y1, _ in zones:
        m = (pts.lon_c > x0) & (pts.lon_c < x1) & (pts.lat_c > y0) & (pts.lat_c < y1)
        if m.sum():
            v = pts.z[m]
            want[zid] = (m.sum(), v.mean(), v.min(), v.max(), v.sum())
    assert {r["zone_id"] for r in out} == set(want)
    for r in out:
        wn, wmean, wmin, wmax, wsum = want[r["zone_id"]]
        assert r["n_points"] == wn
        assert abs(r["zonal_mean"] - wmean) < 1e-9
        assert r["zonal_min"] == wmin and r["zonal_max"] == wmax
        assert abs(r["zonal_sum"] - wsum) < 1e-9


def test_color_relief_bruteforce(spark):
    """gdaldem color-relief: exact half-up piecewise-linear ramp,
    end clamping, per-channel integer parity vs a Python-int replay."""
    from gfp_gdal_spark.operators.map_algebra import color_relief

    ramp = [(10, 0, 0, 255), (50, 0, 255, 0), (120, 255, 128, 0), (200, 255, 255, 255)]
    df, grids = _rand_grid(spark, 61, nk=2, h=8, w=9)
    out = color_relief(df, ramp).collect()
    assert len(out) == 2 * 8 * 9

    def ref(v, ci):
        if v <= ramp[0][0]:
            return ramp[0][ci + 1]
        for (x0, *c0), (x1, *c1) in zip(ramp[:-1], ramp[1:]):
            if v <= x1:
                den, dc = x1 - x0, c1[ci] - c0[ci]
                return (2 * c0[ci] * den + 2 * dc * (int(v) - x0) + den) // (2 * den)
        return ramp[-1][ci + 1]

    for rrow in out:
        v = grids[rrow["image_id"]][rrow["r"], rrow["c"]]
        assert rrow["z"] == v
        got = (rrow["relief_r"], rrow["relief_g"], rrow["relief_b"])
        assert got == (ref(v, 0), ref(v, 1), ref(v, 2)), (v, got)

    with pytest.raises(ValueError, match="ascending"):
        color_relief(df, [(5, 0, 0, 0), (5, 1, 1, 1)])
    with pytest.raises(ValueError, match="breakpoints"):
        color_relief(df, [(5, 0, 0, 0)])


def test_color_relief_no_python_nodes(spark):
    from gfp_gdal_spark.operators.map_algebra import color_relief

    df, _ = _rand_grid(spark, 3, nk=1, h=4, w=4)
    plan = color_relief(df, [(0, 0, 0, 0), (100, 255, 255, 255)])._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan, plan


def test_zonal_mode_bruteforce(spark):
    """Majority zonal statistic: categorical values with planted ties —
    highest count wins, count ties resolve to the SMALLEST value."""
    from collections import Counter

    from gfp_gdal_spark.operators.map_algebra import zonal_mode

    rng = np.random.default_rng(7)
    n = 800
    pts = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon_c": rng.uniform(-40, 40, n),
            "lat_c": rng.uniform(-30, 30, n),
            "z": rng.integers(0, 5, n).astype(float),  # 5 classes -> ties likely
        }
    )
    zones = []
    for zid in range(12):
        x0 = -45 + (zid % 4) * 22.0
        y0 = -33 + (zid // 4) * 21.0
        zones.append((zid, x0, y0, x0 + 18.0, y0 + 16.0,
                      [[x0, y0], [x0 + 18.0, y0], [x0 + 18.0, y0 + 16.0], [x0, y0 + 16.0]]))
    zdf = spark.createDataFrame(
        [(z[0], z[5]) for z in zones], "zone_id int, ring array<array<double>>"
    )
    out = zonal_mode(
        spark.createDataFrame(pts), zdf, zone_id="zone_id",
        z=4, holes=None, broadcast=True,
    ).collect()
    want = {}
    for zid, x0, y0, x1, y1, _ in zones:
        m = (pts.lon_c > x0) & (pts.lon_c < x1) & (pts.lat_c > y0) & (pts.lat_c < y1)
        if m.sum():
            cnt = Counter(pts.z[m])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            want[zid] = (best[0], best[1], int(m.sum()), len(cnt))
    assert {r["zone_id"] for r in out} == set(want)
    for r in out:
        wv, wc, wn, wd = want[r["zone_id"]]
        assert (r["mode_val"], r["mode_count"], r["n_points"], r["n_distinct"]) == (
            wv, wc, wn, wd,
        ), r


# ---------------------------------------------------------------------------
# image pyramid (downsample_tiles)


def _tile_rows(rng, coords, w=8, h=6, fmt="ppm"):
    from gfp_gdal_spark.kernels.codec import encode_image

    rows = []
    pix = {}
    for (z, x, y) in coords:
        p = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        pix[(z, x, y)] = p
        rows.append((z, x, y, w, h, bytearray(encode_image(p, fmt)), fmt))
    return rows, pix


def _expected_parent(pix, z, px, py, w, h, fill=0):
    canvas = np.full((2 * h, 2 * w, 3), fill, dtype=np.float64)
    for qy in (0, 1):
        for qx in (0, 1):
            ch = pix.get((z, 2 * px + qx, 2 * py + qy))
            if ch is not None:
                canvas[qy * h:(qy + 1) * h, qx * w:(qx + 1) * w] = ch
    pooled = canvas.reshape(h, 2, w, 2, 3).mean(axis=(1, 3))
    return np.clip(np.rint(pooled), 0, 255).astype(np.uint8)


def test_downsample_tiles_bruteforce(spark):
    from gfp_gdal_spark.kernels.codec import decode_image
    from gfp_gdal_spark.operators.raster import downsample_tiles

    rng = np.random.default_rng(77)
    # parents with 4, 2, and 1 children + a lone far-away tile
    coords = [(9, x, y) for x in (10, 11) for y in (20, 21)]
    coords += [(9, 14, 20), (9, 15, 21)]
    coords += [(9, 30, 41)]
    rows, pix = _tile_rows(rng, coords)
    df = spark.createDataFrame(
        rows, "tile_z int, tile_x long, tile_y long, w int, h int, bytes binary, fmt string"
    )
    out = downsample_tiles(df).collect()
    assert {(r["tile_z"], r["tile_x"], r["tile_y"]) for r in out} == {
        (8, 5, 10), (8, 7, 10), (8, 15, 20)
    }
    for r in out:
        got = decode_image(bytes(r["bytes"]), r["fmt"])
        want = _expected_parent(pix, 9, r["tile_x"], r["tile_y"], 8, 6)
        assert got.shape == want.shape == (6, 8, 3)
        np.testing.assert_array_equal(got, want)


def test_downsample_tiles_pgm_and_fill(spark):
    from gfp_gdal_spark.kernels.codec import decode_image, encode_image
    from gfp_gdal_spark.operators.raster import downsample_tiles

    p = (np.ones((4, 4)) * 200).astype(np.uint8)
    df = spark.createDataFrame(
        [(5, 2, 3, 4, 4, bytearray(encode_image(p, "pgm")), "pgm")],
        "tile_z int, tile_x long, tile_y long, w int, h int, bytes binary, fmt string",
    )
    out = downsample_tiles(df, fill=100).collect()
    assert len(out) == 1 and (out[0]["tile_x"], out[0]["tile_y"]) == (1, 1)
    got = decode_image(bytes(out[0]["bytes"]), "pgm")
    # child at quadrant (0,1): left-bottom... qx=2%2=0, qy=3%2=1 -> SW
    want = np.full((4, 4), 100.0)
    want[2:, :2] = 200.0
    np.testing.assert_array_equal(got, want.astype(np.uint8))


def test_tile_pyramid_images_two_levels(spark):
    from gfp_gdal_spark.operators.raster import tile_pyramid_images

    rng = np.random.default_rng(3)
    coords = [(6, x, y) for x in range(4) for y in range(4)]
    rows, pix = _tile_rows(rng, coords, w=4, h=4)
    df = spark.createDataFrame(
        rows, "tile_z int, tile_x long, tile_y long, w int, h int, bytes binary, fmt string"
    )
    out = tile_pyramid_images(df, z_from=6, z_to=4).groupBy("tile_z").count().collect()
    assert {(r["tile_z"], r["count"]) for r in out} == {(5, 4), (4, 1)}
    with pytest.raises(ValueError, match="z_to"):
        tile_pyramid_images(df, 6, 6)


def test_downsample_tiles_fail_loud(spark):
    from gfp_gdal_spark.kernels.codec import encode_image
    from gfp_gdal_spark.operators.raster import downsample_tiles

    p = np.zeros((4, 4, 3), dtype=np.uint8)
    dup = [
        (5, 2, 2, 4, 4, bytearray(encode_image(p, "ppm")), "ppm"),
        (5, 2, 2, 4, 4, bytearray(encode_image(p, "ppm")), "ppm"),
    ]
    df = spark.createDataFrame(
        dup, "tile_z int, tile_x long, tile_y long, w int, h int, bytes binary, fmt string"
    )
    with pytest.raises(Exception, match="duplicate child quadrant"):
        downsample_tiles(df).collect()

    mixed = [
        (5, 2, 2, 4, 4, bytearray(encode_image(p, "ppm")), "ppm"),
        (5, 3, 2, 8, 4, bytearray(encode_image(np.zeros((4, 8, 3), np.uint8), "ppm")), "ppm"),
    ]
    df2 = spark.createDataFrame(
        mixed, "tile_z int, tile_x long, tile_y long, w int, h int, bytes binary, fmt string"
    )
    with pytest.raises(Exception, match="mixed child"):
        downsample_tiles(df2).collect()


# ---------------------------------------------------------------------------
# decontamination


def test_decontaminate_bruteforce(spark):
    from gfp_gdal_spark.operators.dedup import decontaminate

    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(40)]
    ev = [(i, " ".join(rng.choice(vocab, 12))) for i in range(5)]
    tr = []
    for i in range(100, 160):
        words = list(rng.choice(vocab, 15))
        if i % 3 == 0:  # plant a copied eval 4-gram span
            src = ev[i % 5][1].split()
            words[4:8] = src[2:6]
        tr.append((i, " ".join(words)))
    n = 3
    edf = spark.createDataFrame(ev, "doc_id long, text string")
    tdf = spark.createDataFrame(tr, "doc_id long, text string")

    def grams(s):
        t = s.lower().split(" ")
        return {" ".join(t[i: i + n]) for i in range(max(len(t) - n, 0) + 1)}

    eg = {}
    for i, s in ev:
        for g in grams(s):
            eg.setdefault(g, set()).add(i)
    want = {}
    for i, s in tr:
        hit = {g for g in grams(s) if g in eg}
        if hit:
            want[i] = (len(hit), len({d for g in hit for d in eg[g]}))

    for hashed in (False, True):
        out = decontaminate(tdf, edf, n=n, hash_grams=hashed).collect()
        got = {r["train_id"]: (r["n_hit_grams"], r["n_eval_docs"]) for r in out}
        assert got == want, f"hash_grams={hashed}"
    # planted docs are flagged
    assert all(i in want for i, _ in tr if i % 3 == 0)

    hi = decontaminate(tdf, edf, n=n, min_hits=3).collect()
    assert {r["train_id"] for r in hi} == {i for i, v in want.items() if v[0] >= 3}
    with pytest.raises(ValueError, match="min_hits"):
        decontaminate(tdf, edf, min_hits=0)


def test_decontaminate_broadcast_plan(spark):
    from gfp_gdal_spark.operators.dedup import decontaminate

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    plan = (
        decontaminate(df, df, n=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# trajectories


def test_track_stats_bruteforce(spark):
    import math

    from gfp_gdal_spark.operators.tracks import track_stats

    rng = np.random.default_rng(29)
    rows = []
    for t in range(6):
        npts = [1, 2, 5, 9, 3, 4][t]
        tsec = np.sort(rng.choice(np.arange(0, 5000), npts, replace=False)).astype(float)
        if t == 4:  # zero-duration multi-point track
            tsec = np.array([100.0, 100.0, 100.0])
        for i in range(npts):
            rows.append((f"t{t}", float(tsec[i]), float(rng.uniform(-170, 170)),
                         float(rng.uniform(-80, 80)), i))
    df = spark.createDataFrame(rows, "track_id string, ts double, lon double, lat double, seq int")
    out = {r["track_id"]: r for r in
           track_stats(df, tiebreak="seq").collect()}

    def hav(lo1, la1, lo2, la2):
        a = (math.sin(math.radians(la2 - la1) / 2) ** 2
             + math.cos(math.radians(la1)) * math.cos(math.radians(la2))
             * math.sin(math.radians(lo2 - lo1) / 2) ** 2)
        return 2 * 6371008.8 * math.asin(math.sqrt(min(a, 1.0)))

    by_track = {}
    for tid, tsec, lo, la, seq in rows:
        by_track.setdefault(tid, []).append((tsec, seq, lo, la))
    for tid, pts in by_track.items():
        pts.sort()
        legs = [round(hav(pts[i - 1][2], pts[i - 1][3], pts[i][2], pts[i][3]) * 1000)
                for i in range(1, len(pts))]
        r = out[tid]
        assert r["n_points"] == len(pts)
        assert r["t0"] == pts[0][0] and r["t1"] == pts[-1][0]
        assert abs(r["path_m"] - sum(legs) / 1000.0) < 1e-9
        assert abs(r["max_leg_m"] - (max(legs) / 1000.0 if legs else 0.0)) < 1e-9
        dur = pts[-1][0] - pts[0][0]
        if dur > 0:
            assert abs(r["avg_speed_ms"] - (sum(legs) / 1000.0) / dur) < 1e-9
        else:
            assert r["avg_speed_ms"] is None
    assert len(out) == 6


def _interp_ref(fixes, tq):
    """Python reference: fixes = sorted [(ts, seq, lon, lat)]."""
    back = [f for f in fixes if f[0] <= tq]
    fwd = [f for f in fixes if f[0] > tq]
    f0 = max(back) if back else None
    f1 = min(fwd) if fwd else None
    if f0 is not None and f0[0] == tq:
        return f0[2], f0[3], True
    if f0 is None or f1 is None:
        return None, None, False
    fr = (tq - f0[0]) / (f1[0] - f0[0])
    return f0[2] + (f1[2] - f0[2]) * fr, f0[3] + (f1[3] - f0[3]) * fr, True


def test_interpolate_track_bruteforce(spark):
    from gfp_gdal_spark.operators.tracks import interpolate_track

    rng = np.random.default_rng(41)
    fix_rows, q_rows, by_track = [], [], {}
    for t in range(5):
        npts = [1, 2, 6, 10, 4][t]
        tsec = np.sort(rng.choice(np.arange(0, 900), npts, replace=False)).astype(float)
        if t == 3:  # duplicate-timestamp pair -> tiebreak decides
            tsec[4] = tsec[3]
        fs = []
        for i in range(npts):
            f = (float(tsec[i]), i, float(rng.uniform(-170, 170)),
                 float(rng.uniform(-80, 80)))
            fs.append(f)
            fix_rows.append((f"t{t}", f[0], f[2], f[3], i))
        by_track[f"t{t}"] = sorted(fs)
        # queries: interior, exact-hit, before-first, after-last
        qts = [float(tsec[0]) - 5.0, float(tsec[-1]) + 5.0, float(tsec[0])]
        qts += [float(x) for x in rng.uniform(tsec[0], tsec[-1], 6)]
        for j, tq in enumerate(qts):
            q_rows.append((f"t{t}", tq, t * 100 + j))
    fx = spark.createDataFrame(
        fix_rows, "track_id string, ts double, lon double, lat double, seq int"
    )
    qx = spark.createDataFrame(q_rows, "track_id string, ts double, query_id long")
    out = interpolate_track(fx, qx, tiebreak="seq").collect()
    assert len(out) == len(q_rows)
    for r in out:
        lo, la, ok = _interp_ref(by_track[r["track_id"]], r["ts"])
        assert r["in_range"] == ok, r
        if ok:
            assert r["lon"] == lo and r["lat"] == la, r
        else:
            assert r["lon"] is None and r["lat"] is None


@pytest.mark.parametrize("width", [7.0, 100.0, 1e6])
def test_interpolate_track_bucketed_parity(spark, width):
    """Hot-track cascade is BIT-identical to the plain path for any
    bucket width, incl. a planted hot track and empty queried buckets."""
    from gfp_gdal_spark.operators.tracks import interpolate_track

    rng = np.random.default_rng(53)
    fix_rows, q_rows = [], []
    for t in range(3):
        npts = 200 if t == 0 else 8  # planted hot track
        tsec = np.sort(rng.choice(np.arange(0, 3000), npts, replace=False)).astype(float)
        for i in range(npts):
            fix_rows.append((f"t{t}", float(tsec[i]),
                             float(rng.uniform(-170, 170)),
                             float(rng.uniform(-80, 80)), i))
        for j, tq in enumerate(
            list(rng.uniform(-100, 3100, 25)) + [float(tsec[0]), float(tsec[-1])]
        ):
            q_rows.append((f"t{t}", float(tq), t * 1000 + j))
    fx = spark.createDataFrame(
        fix_rows, "track_id string, ts double, lon double, lat double, seq int"
    )
    qx = spark.createDataFrame(q_rows, "track_id string, ts double, query_id long")
    plain = {r["query_id"]: r for r in interpolate_track(fx, qx, tiebreak="seq").collect()}
    buck = interpolate_track(fx, qx, tiebreak="seq", time_bucket=width).collect()
    assert len(buck) == len(plain)
    for r in buck:
        p = plain[r["query_id"]]
        assert (r["lon"], r["lat"], r["in_range"]) == (p["lon"], p["lat"], p["in_range"]), r


def test_track_stats_single_shuffle(spark):
    from gfp_gdal_spark.operators.tracks import track_stats

    df = spark.createDataFrame(
        [("a", 1.0, 0.0, 0.0)], "track_id string, ts double, lon double, lat double"
    )
    plan = track_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------------------
# BM25 retrieval


def test_bm25_bruteforce(spark):
    import math

    from gfp_gdal_spark.operators.retrieval import bm25_search

    rng = np.random.default_rng(31)
    vocab = [f"w{i}" for i in range(25)]
    docs = [(i, " ".join(rng.choice(vocab, rng.integers(5, 20)))) for i in range(40)]
    qs = [(0, "w1 w2 w3"), (1, "w7"), (2, "zzz"), (3, "w4 w4 w5")]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(qs, "q_id long, q_text string")
    k1, b, top_k = 1.2, 0.75, 5
    out = bm25_search(ddf, qdf, k1=k1, b=b, top_k=top_k).collect()

    toks = {i: s.split() for i, s in docs}
    N = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / N
    dfreq = {}
    for t in toks.values():
        for w in set(t):
            dfreq[w] = dfreq.get(w, 0) + 1
    want = {}
    for qid, qs_ in qs:
        scores = {}
        for d, t in toks.items():
            s = 0.0
            for w in set(qs_.split()):
                tf = t.count(w)
                if tf == 0:
                    continue
                idf = math.log(1 + (N - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            if s > 0:
                scores[d] = round(s, 9)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        want[qid] = ranked
    got = {}
    for r in out:
        got.setdefault(r["q_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid in got:
        got[qid].sort()
    assert set(got) == {qid for qid, rk in want.items() if rk}
    for qid, ranked in want.items():
        if not ranked:
            continue
        assert got[qid] == [(j + 1, d, s) for j, (d, s) in enumerate(ranked)], qid


# ---------------------------------------------------------------------------
# DBSCAN


def test_density_clusters_bruteforce(spark):
    import math

    from gfp_gdal_spark.operators.clustering import density_clusters

    rng = np.random.default_rng(41)
    n = 220
    pts = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "lon_c": rng.uniform(-10, 10, n),
            "lat_c": rng.uniform(-8, 8, n),
        }
    )
    eps, min_pts = 120_000.0, 4

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians,
                                 (pts.lat_c[a], pts.lon_c[a], pts.lat_c[b], pts.lon_c[b]))
        h = (math.sin((la2 - la1) / 2) ** 2
             + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2)
        return 2 * 6371008.8 * math.asin(math.sqrt(min(h, 1.0)))

    nbrs = {i: {j for j in range(n) if hav(i, j) <= eps} for i in range(n)}
    cores = {i for i in range(n) if len(nbrs[i]) >= min_pts}
    # CC on core subgraph (union-find)
    parent = {i: i for i in cores}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in cores:
        for j in nbrs[i]:
            if j in cores and j != i:
                a, b = find(i), find(j)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    label = {}
    comp_min = {}
    for i in cores:
        comp_min.setdefault(find(i), []).append(i)
    for root, members in comp_min.items():
        m = min(members)
        for i in members:
            label[i] = m
    for i in range(n):
        if i in cores:
            continue
        cn = [label[j] for j in nbrs[i] if j in cores]
        if cn:
            label[i] = min(cn)

    out = density_clusters(
        spark.createDataFrame(pts), eps_m=eps, min_pts=min_pts
    ).collect()
    assert len(out) == n
    for r in out:
        i = r["point_id"]
        assert r["is_core"] == (i in cores), i
        assert r["cluster_id"] == label.get(i), i
    # sanity: the fixture actually produced all three roles
    assert cores and any(i not in cores and i in label for i in range(n))
    assert any(i not in label for i in range(n))


# ---------------------------------------------------------------------------
# bigram LM perplexity


def test_bigram_lm_bruteforce(spark):
    import math

    from gfp_gdal_spark.operators.lm import bigram_lm_scores

    rng = np.random.default_rng(43)
    vocab = [f"w{i}" for i in range(15)]
    train = [(i, " ".join(rng.choice(vocab, rng.integers(2, 25)))) for i in range(30)]
    # score a mix: in-corpus docs + a doc with unseen tokens + a 1-token doc
    score = train[:10] + [(100, "zz qq w1"), (101, "solo")]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    sdf = spark.createDataFrame(score, "doc_id long, text string")
    k = 0.1
    out = {r["doc_id"]: r for r in
           bigram_lm_scores(sdf, train=tdf, k_smooth=k).collect()}

    def bigrams(s):
        t = s.lower().split(" ")
        return [(t[i], t[i + 1]) for i in range(len(t) - 1)]

    c12, c1, toks = {}, {}, set()
    for _, s in train:
        for a, b in bigrams(s):
            c12[(a, b)] = c12.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
        toks.update(s.lower().split(" "))
    V = len(toks)
    for i, s in score:
        bgs = bigrams(s)
        if not bgs:
            assert i not in out  # 1-token doc contributes no row
            continue
        nll = -sum(
            math.log((c12.get(bg, 0) + k) / (c1.get(bg[0], 0) + k * V))
            for bg in bgs
        ) / len(bgs)
        r = out[i]
        assert r["n_bigrams"] == len(bgs)
        assert abs(r["nll"] - nll) < 1e-9, i
        assert abs(r["ppl"] - math.exp(nll)) < 1e-6, i
    # unseen-token doc must score strictly worse than every in-corpus doc
    assert out[100]["ppl"] > max(out[i]["ppl"] for i, _ in train[:10])


# ---------------------------------------------------------------------------
# mosaic compositing


def test_mosaic_composite_bruteforce(spark):
    from gfp_gdal_spark.kernels.codec import decode_image, encode_image
    from gfp_gdal_spark.operators.raster import mosaic_composite

    rng = np.random.default_rng(53)
    w, h, nd = 6, 5, 0
    rows, layers = [], {}
    iid = 0
    for tx, ty, nl in [(0, 0, 1), (1, 0, 3), (2, 5, 4)]:
        for l in range(nl):
            p = rng.integers(0, 255, (h, w, 3)).astype(np.uint8)
            p[rng.random((h, w)) < 0.45] = nd  # random transparent holes
            prio = int(rng.integers(0, 50))
            layers.setdefault((tx, ty), []).append((prio, iid, p))
            rows.append((tx, ty, iid, prio, w, h,
                         bytearray(encode_image(p, "ppm")), "ppm"))
            iid += 1
    df = spark.createDataFrame(
        rows,
        "tile_x long, tile_y long, image_id long, prio long, "
        "w int, h int, bytes binary, fmt string",
    )
    out = mosaic_composite(df, priority="prio", nodata=nd).collect()
    assert {(r["tile_x"], r["tile_y"]) for r in out} == set(layers)
    for r in out:
        ls = sorted(layers[(r["tile_x"], r["tile_y"])],
                    key=lambda t: (-t[0], t[1]))
        assert r["n_layers"] == len(ls)
        want = np.full((h, w, 3), nd, dtype=np.uint8)
        done = np.zeros((h, w), dtype=bool)
        for _, _, p in ls:
            valid = (p != nd).any(axis=-1) & ~done
            want[valid] = p[valid]
            done |= valid
        got = decode_image(bytes(r["bytes"]), r["fmt"])
        np.testing.assert_array_equal(got, want)


def test_mosaic_composite_max_layers_cap(spark):
    from gfp_gdal_spark.kernels.codec import decode_image, encode_image
    from gfp_gdal_spark.operators.raster import mosaic_composite

    w, h = 4, 4
    rows = []
    # 5 fully-opaque layers, priorities 1..5; cap at 2 -> winner prio 5
    for l in range(5):
        p = np.full((h, w), 50 + l, dtype=np.uint8)
        rows.append((7, 7, l, l + 1, w, h, bytearray(encode_image(p, "pgm")), "pgm"))
    df = spark.createDataFrame(
        rows,
        "tile_x long, tile_y long, image_id long, prio long, "
        "w int, h int, bytes binary, fmt string",
    )
    out = mosaic_composite(df, priority="prio", max_layers=2).collect()
    assert len(out) == 1 and out[0]["n_layers"] == 2
    np.testing.assert_array_equal(
        decode_image(bytes(out[0]["bytes"]), "pgm"), np.full((h, w), 54)
    )


# ---------------------------------------------------------------------------
# band index (LOCAL map algebra)


def test_band_index_stats_bruteforce(spark):
    from gfp_gdal_spark.operators.map_algebra import band_index_stats
    from gfp_gdal_spark.sources import datagen
    from gfp_gdal_spark.kernels.codec import decode_image

    imgs = datagen.images_table(spark, 60, with_bytes=True)
    out = {r["image_id"]: r for r in band_index_stats(imgs).collect()}
    pdf = datagen.images_pandas(60, with_bytes=True)
    assert len(out) == 60
    for _, row in pdf.iterrows():
        pix = decode_image(bytes(row["bytes"]), row["fmt"]).astype(np.float64)
        a, c = pix[..., 1], pix[..., 0]
        s = a + c
        idx = np.where(s == 0, 0.0, (a - c) / np.where(s == 0, 1.0, s))
        u = np.floor(idx * 1e6)
        r = out[row["image_id"]]
        assert r["n_px"] == u.size
        assert abs(r["idx_mean"] - u.mean() / 1e6) < 1e-12
        assert r["idx_min"] == u.min() / 1e6
        assert r["idx_max"] == u.max() / 1e6
        assert abs(r["frac_pos"] - (u > 0).mean()) < 1e-12


def test_band_index_floor_tie_contract(spark):
    """The documented .5-micro-unit case: (129-127)/(129+127)*1e6 =
    7812.5 — floor keeps numpy and SQL identical where round() would
    split half-even vs half-away."""
    from gfp_gdal_spark.kernels.codec import encode_image
    from gfp_gdal_spark.operators.map_algebra import band_index_stats

    p = np.zeros((2, 2, 3), dtype=np.uint8)
    p[..., 0] = 127
    p[..., 1] = 129
    df = spark.createDataFrame(
        [("t", bytearray(encode_image(p, "ppm")), "ppm", 2, 2)],
        "image_id string, bytes binary, fmt string, w int, h int",
    )
    r = band_index_stats(df).collect()[0]
    assert r["idx_mean"] == 0.007812  # floor(7812.5)/1e6, NOT .0078125-rounded
    assert r["idx_min"] == r["idx_max"] == 0.007812
    assert r["frac_pos"] == 1.0


def test_track_stats_time_bucket_parity(spark):
    """time_bucket=w must be BIT-IDENTICAL to the plain path for
    widths >> span, ~ gap, and << gap, on a planted hot track with
    duplicate timestamps and multi-bucket time gaps."""
    from gfp_gdal_spark.operators.tracks import track_stats

    rng = np.random.default_rng(59)
    rows = []
    # hot track: 3000 fixes, bursty gaps incl. long jumps (empty buckets)
    t = np.cumsum(rng.choice([1.0, 7.0, 500.0, 20_000.0], 3000,
                             p=[0.6, 0.25, 0.12, 0.03]))
    t[100] = t[101]  # duplicate timestamp -> tiebreak decides
    for i in range(3000):
        rows.append(("hot", float(t[i]), float(rng.uniform(-170, 170)),
                     float(rng.uniform(-80, 80)), i))
    for k in range(5):  # cold tracks
        tt = np.sort(rng.uniform(0, 1e5, 8))
        for i in range(8):
            rows.append((f"c{k}", float(tt[i]), float(rng.uniform(-170, 170)),
                         float(rng.uniform(-80, 80)), i))
    df = spark.createDataFrame(
        rows, "track_id string, ts double, lon double, lat double, seq int"
    ).repartition(8).cache()
    base = track_stats(df, tiebreak="seq")
    want = sorted(map(tuple, base.collect()))
    for width in (1e9, 300.0, 2.5):
        got = track_stats(df, tiebreak="seq", time_bucket=width)
        assert sorted(map(tuple, got.collect())) == want, f"width {width}"
    with pytest.raises(ValueError, match="time_bucket"):
        track_stats(df, time_bucket=0)
    # plan: the event-stream window partitions on (track, bucket)
    plan = track_stats(df, tiebreak="seq", time_bucket=300.0)\
        ._jdf.queryExecution().executedPlan().toString()
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert any("_bkt" in s for s in specs), plan
    df.unpersist()


def test_bm25_shards_parity(spark):
    """shards=k must return the bit-identical top-k (per-shard prefix
    union contains the global top-k); the first-pass window really
    partitions on the shard column."""
    from gfp_gdal_spark.operators.retrieval import bm25_search

    rng = np.random.default_rng(61)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab, rng.integers(4, 30)))) for i in range(250)]
    qs = [(0, "w1 w2"), (1, "w3 w4 w5")]
    ddf = spark.createDataFrame(docs, "doc_id long, text string").cache()
    qdf = spark.createDataFrame(qs, "q_id long, q_text string")
    plain = sorted(map(tuple, bm25_search(ddf, qdf, top_k=7).collect()))
    for k in (1, 4, 16):
        sh = sorted(map(tuple, bm25_search(ddf, qdf, top_k=7, shards=k).collect()))
        assert sh == plain, k
    plan = bm25_search(ddf, qdf, shards=4)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "_sh" in plan
    with pytest.raises(ValueError, match="shards"):
        bm25_search(ddf, qdf, shards=0)
    ddf.unpersist()


def test_downsample_tiles_negative_coords_fail_loud(spark):
    from gfp_gdal_spark.kernels.codec import encode_image
    from gfp_gdal_spark.operators.raster import downsample_tiles

    p = np.zeros((4, 4, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(5, -1, 2, 4, 4, bytearray(encode_image(p, "ppm")), "ppm")],
        "tile_z int, tile_x long, tile_y long, w int, h int, bytes binary, fmt string",
    )
    with pytest.raises(Exception, match="non-negative"):
        downsample_tiles(df).collect()


# ---------------------------------------------------------------------------
# centroid + convex hull


def test_ring_centroid_bruteforce(spark):
    from gfp_gdal_spark.functions.geometry import ring_centroid

    rng = np.random.default_rng(67)
    rows = []
    want = []
    for i in range(30):
        k = rng.integers(3, 9)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        if len(np.unique(np.round(ang, 6))) < 3:
            ang = np.linspace(0, 2 * np.pi, 4)[:3]
        r = rng.uniform(1, 5, len(ang))
        xs = 10 + r * np.cos(ang)
        ys = -4 + r * np.sin(ang)
        ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
        if i % 2:
            ring = ring[::-1]  # CW: centroid must be orientation-independent
        rows.append((i, ring))
        a = sx = sy = 0.0
        n = len(ring)
        for j in range(n):
            x0, y0 = ring[j]
            x1, y1 = ring[(j + 1) % n]
            c = x0 * y1 - x1 * y0
            a += c
            sx += (x0 + x1) * c
            sy += (y0 + y1) * c
        want.append((sx / (3 * a), sy / (3 * a)))
    df = spark.createDataFrame(rows, "i long, ring array<array<double>>")
    got = {r["i"]: r["c"] for r in
           df.select("i", ring_centroid(F.col("ring")).alias("c")).collect()}
    for i, (wx, wy) in enumerate(want):
        assert abs(got[i]["cx"] - wx) < 1e-9 and abs(got[i]["cy"] - wy) < 1e-9, i
    # degenerate collinear ring -> vertex mean, not NaN
    dg = spark.createDataFrame(
        [(0, [[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]])], "i long, ring array<array<double>>"
    )
    c = dg.select(ring_centroid(F.col("ring")).alias("c")).collect()[0]["c"]
    assert (c["cx"], c["cy"]) == (1.0, 1.0)


def test_convex_hull_bruteforce_and_shards(spark):
    from gfp_gdal_spark.operators.transforms import convex_hull_per_key

    rng = np.random.default_rng(71)
    rows = []
    for k in range(6):
        n = int(rng.integers(5, 120))
        for _ in range(n):
            rows.append((k, float(rng.uniform(-50, 50)), float(rng.uniform(-30, 30))))
    # degenerate keys: single point, all-collinear
    rows += [(100, 3.0, 4.0)]
    rows += [(101, float(x), float(2 * x)) for x in range(5)]
    df = spark.createDataFrame(rows, "k long, lon_c double, lat_c double").cache()
    plain = {r["k"]: r for r in convex_hull_per_key(df, key="k").collect()}

    def ref_hull(pts):
        pts = sorted(set(pts))
        if len(pts) == 1:
            return pts, 0.0
        def chain(seq):
            out = []
            for p in seq:
                while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                ) <= 0:
                    out.pop()
                out.append(p)
            return out
        h = chain(pts)[:-1] + chain(pts[::-1])[:-1]
        a = 0.0
        for i in range(len(h)):
            x0, y0 = h[i]
            x1, y1 = h[(i + 1) % len(h)]
            a += x0 * y1 - x1 * y0
        return h, abs(a) / 2
    by_key = {}
    for k, x, y in rows:
        by_key.setdefault(k, []).append((x, y))
    for k, pts in by_key.items():
        h, a = ref_hull(pts)
        r = plain[k]
        assert r["n_hull"] == len(h), k
        assert [tuple(p) for p in r["hull_ring"]] == h, k
        assert abs(r["hull_area"] - a) < 1e-9, k
    # shard merge is bit-identical
    for s in (1, 4, 16):
        sh = {r["k"]: r for r in convex_hull_per_key(df, key="k", shards=s).collect()}
        for k in plain:
            assert sh[k]["hull_ring"] == plain[k]["hull_ring"], (s, k)
            assert sh[k]["hull_area"] == plain[k]["hull_area"], (s, k)
    with pytest.raises(ValueError, match="shards"):
        convex_hull_per_key(df, key="k", shards=0)
    df.unpersist()


# ---------------------------------------------------------------------------
# corpus profiling: vocab top-k + cardinality


def test_vocab_topk_bruteforce(spark):
    from collections import Counter

    from gfp_gdal_spark.operators.profiling import vocab_topk

    rng = np.random.default_rng(73)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, ["en", "fr"][i % 2], " ".join(rng.choice(vocab, 25)))
            for i in range(80)]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string").cache()

    cnt = {"en": Counter(), "fr": Counter()}
    for _, lang, s in docs:
        cnt[lang].update(s.split())

    def top(c, n):
        return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:n]

    for shards in (None, 1, 5):
        out = vocab_topk(df, by="lang", n=7, shards=shards).collect()
        got = {}
        for r in out:
            got.setdefault(r["lang"], []).append((r["rank"], r["token"], r["n_occ"]))
        for lang in ("en", "fr"):
            got[lang].sort()
            assert got[lang] == [(j + 1, t, c) for j, (t, c) in
                                 enumerate(top(cnt[lang], 7))], (lang, shards)
    # global (no `by`)
    allc = cnt["en"] + cnt["fr"]
    g = sorted((r["rank"], r["token"], r["n_occ"])
               for r in vocab_topk(df, n=5).collect())
    assert g == [(j + 1, t, c) for j, (t, c) in enumerate(top(allc, 5))]
    with pytest.raises(ValueError, match="shards"):
        vocab_topk(df, shards=0)
    df.unpersist()


def test_distinct_profile(spark):
    from gfp_gdal_spark.operators.profiling import distinct_profile

    df = spark.createDataFrame(
        [(i % 17, f"d{i % 5}", float(i)) for i in range(300)],
        "a long, b string, c double",
    )
    got = {r["column"]: r["n_distinct"]
           for r in distinct_profile(df, ["a", "b", "c"]).collect()}
    assert got == {"a": 17, "b": 5, "c": 300}
    ap = {r["column"]: r["n_distinct"]
          for r in distinct_profile(df, ["a", "b", "c"], exact=False).collect()}
    for k, v in got.items():
        assert abs(ap[k] - v) <= max(3, 3 * 0.02 * v), k


# ---------------------------------------------------------------------------
# rasterize (vector -> raster)


def test_rasterize_zones_bruteforce(spark):
    from gfp_gdal_spark.kernels.codec import decode_image
    from gfp_gdal_spark.operators.raster import rasterize_zones

    rng = np.random.default_rng(79)
    frames = []
    for k in range(4):
        x0 = -30.0 + k * 18.0
        frames.append((f"f{k}", x0, -10.0, x0 + 16.0, 2.0, 10, 8))
    fdf = spark.createDataFrame(
        frames,
        "image_id string, min_lon double, min_lat double, "
        "max_lon double, max_lat double, w int, h int",
    )
    zones = []
    for z in range(12):
        cx = float(rng.uniform(-35, 45))
        cy = float(rng.uniform(-12, 4))
        dx, dy = float(rng.uniform(1, 9)), float(rng.uniform(1, 7))
        ring = [[cx - dx, cy - dy], [cx + dx, cy - dy],
                [cx + dx, cy + dy], [cx - dx, cy + dy]]
        zones.append((z + 10, ring, cx - dx, cy - dy, cx + dx, cy + dy))
    zdf = spark.createDataFrame(
        [(z[0], z[1]) for z in zones], "zval int, ring array<array<double>>"
    )
    out = {r["image_id"]: r for r in rasterize_zones(
        fdf, zdf, value="zval", z=4, holes=None, broadcast=True
    ).collect()}
    assert set(out) == {f"f{k}" for k in range(4)}
    for kf, x0, y0, x1, y1, w, h in frames:
        want = np.zeros((h, w), dtype=np.uint8)
        nb, vs = 0, 0
        for r in range(h):
            for c in range(w):
                lon = x0 + (c + 0.5) * (x1 - x0) / w
                lat = y1 - (r + 0.5) * (y1 - y0) / h
                vals = [zv for zv, _, mx, my, Mx, My in zones
                        if mx < lon < Mx and my < lat < My]
                if vals:
                    want[r, c] = min(vals)
                    nb += 1
                    vs += min(vals)
        rrow = out[kf]
        assert rrow["n_burned"] == nb and rrow["val_sum"] == vs, kf
        got = decode_image(bytes(rrow["bytes"]), rrow["fmt"])
        np.testing.assert_array_equal(got, want)
    # a frame far from every zone still emits an all-nodata raster
    far = spark.createDataFrame(
        [("lone", 160.0, 60.0, 170.0, 66.0, 6, 4)],
        "image_id string, min_lon double, min_lat double, "
        "max_lon double, max_lat double, w int, h int",
    )
    r = rasterize_zones(far, zdf, value="zval", z=4, holes=None,
                        broadcast=True).collect()[0]
    assert r["n_burned"] == 0 and r["val_sum"] == 0
    np.testing.assert_array_equal(
        decode_image(bytes(r["bytes"]), r["fmt"]), np.zeros((4, 6), np.uint8)
    )


# ---------------------------------------------------------------------------
# raster warp (gdalwarp analog)


def test_reproject_webmercator_properties(spark):
    import math

    from gfp_gdal_spark.functions.spatial import with_footprint
    from gfp_gdal_spark.kernels.codec import decode_image
    from gfp_gdal_spark.operators.raster import reproject_webmercator
    from gfp_gdal_spark.sources import datagen

    imgs = with_footprint(datagen.images_table(spark, 45, with_bytes=True))
    src = {r["image_id"]: r for r in imgs.collect()}
    out = {r["image_id"]: r for r in reproject_webmercator(imgs).collect()}
    assert set(out) == set(src)
    R = 6378137.0
    for iid, r in out.items():
        s = src[iid]
        spix = decode_image(bytes(s["bytes"]), s["fmt"])
        wpix = decode_image(bytes(r["bytes"]), r["fmt"])
        assert wpix.shape == spix.shape
        h = spix.shape[0]
        top, bot = s["lat_c"] + s["dlat"], s["lat_c"] - s["dlat"]
        ytop = R * math.log(math.tan(math.pi / 4 + math.radians(top) / 2))
        ybot = R * math.log(math.tan(math.pi / 4 + math.radians(bot) / 2))
        rows = []
        for j in range(h):
            y = ytop - (j + 0.5) * (ytop - ybot) / h
            phi = math.degrees(2 * math.atan(math.exp(y / R)) - math.pi / 2)
            rows.append(min(h - 1, max(0, int(math.floor((top - phi) / (2 * s["dlat"]) * h)))))
        # independent per-row reference: warp == source row remap
        np.testing.assert_array_equal(wpix, spix[rows])
        # row map is monotone non-decreasing and anchored at both ends
        assert rows == sorted(rows)
        assert rows[0] == 0 and rows[-1] == h - 1
    # polar footprint -> fail loud
    bad = spark.createDataFrame(
        [("p", bytearray(b""), "pgm", 4, 4, 0.0, 86.0, 1.0, 1.0)],
        "image_id string, bytes binary, fmt string, w int, h int, "
        "lon_c double, lat_c double, dlon double, dlat double",
    )
    with pytest.raises(Exception, match="WebMercator validity"):
        reproject_webmercator(bad).collect()


# ---------------------------------------------------------------------------
# raster->vector utilities (gdal_polygonize / proximity / contour / sieve)


def _img_df(spark, arrs, fmt="pgm"):
    from gfp_gdal_spark.kernels.codec import encode_image

    rows = [
        (str(i), bytearray(encode_image(a.astype(np.uint8), fmt)), fmt,
         int(a.shape[1]), int(a.shape[0]))
        for i, a in enumerate(arrs)
    ]
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int"
    )


def _ref_label(a, conn):
    h, w = a.shape
    nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if conn == 8:
        nbrs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
    seen = np.zeros((h, w), bool)
    out = {}
    for r in range(h):
        for c in range(w):
            if seen[r, c]:
                continue
            stack, cells = [(r, c)], []
            seen[r, c] = True
            while stack:
                y, x = stack.pop()
                cells.append((y, x))
                for dy, dx in nbrs:
                    yy, xx = y + dy, x + dx
                    if 0 <= yy < h and 0 <= xx < w and not seen[yy, xx] and a[yy, xx] == a[r, c]:
                        seen[yy, xx] = True
                        stack.append((yy, xx))
            mid = min(y * w + x for y, x in cells)
            rs = [y for y, _ in cells]
            cs = [x for _, x in cells]
            out[mid] = (int(a[r, c]), len(cells), min(rs), min(cs), max(rs), max(cs))
    return out


@pytest.mark.parametrize("conn", [4, 8])
def test_label_regions_bruteforce(spark, conn):
    from gfp_gdal_spark.operators.vectorize import label_regions

    rng = np.random.RandomState(7 + conn)
    arrs = [rng.randint(0, 3, size=(rng.randint(2, 9), rng.randint(2, 9))) * 40
            for _ in range(12)]
    # mixed shapes + a serpentine worst case for the propagation
    snake = np.zeros((8, 8), int)
    snake[::2, :] = 1
    snake[1::4, -1] = 1
    snake[3::4, 0] = 1
    arrs.append(snake * 50)
    df = _img_df(spark, arrs)
    got = {}
    for row in label_regions(df, connectivity=conn).collect():
        got.setdefault(row["image_id"], {})[row["region"]] = (
            row["val"], row["n_pixels"], row["r0"], row["c0"], row["r1"], row["c1"],
        )
    for i, a in enumerate(arrs):
        assert got[str(i)] == _ref_label(a, conn), f"frame {i}\n{a}"


def test_label_regions_nodata(spark):
    from gfp_gdal_spark.operators.vectorize import label_regions

    a = np.array([[0, 0, 7], [7, 0, 7]])
    out = label_regions(_img_df(spark, [a]), nodata=0).collect()
    assert sorted((r["region"], r["val"], r["n_pixels"]) for r in out) == [
        (2, 7, 2), (3, 7, 1),
    ]


def test_proximity_bruteforce(spark):
    from gfp_gdal_spark.operators.vectorize import proximity_raster

    rng = np.random.RandomState(11)
    arrs = []
    for _ in range(10):
        h, w = rng.randint(2, 9), rng.randint(2, 9)
        a = np.zeros((h, w), int)
        k = rng.randint(1, 4)
        for _s in range(k):
            a[rng.randint(h), rng.randint(w)] = 255
        arrs.append(a)
    arrs.append(np.zeros((3, 4), int))  # seedless -> sentinel
    df = _img_df(spark, arrs)
    got = {
        (r["image_id"], r["r"], r["c"]): (r["dist2"], r["near_r"], r["near_c"])
        for r in proximity_raster(df, 255).collect()
    }
    for i, a in enumerate(arrs):
        h, w = a.shape
        seeds = [(r, c) for r in range(h) for c in range(w) if a[r, c] == 255]
        for r in range(h):
            for c in range(w):
                if seeds:
                    want = min(((r - rs) ** 2 + (c - cs) ** 2, rs, cs) for rs, cs in seeds)
                else:
                    want = (-1, -1, -1)
                assert got[(str(i), r, c)] == want, (i, r, c, a)
    assert len(got) == sum(a.size for a in arrs)


def test_contour_properties(spark):
    from gfp_gdal_spark.operators.vectorize import contour_segments

    rng = np.random.RandomState(3)
    arrs = [rng.randint(0, 5, size=(rng.randint(2, 8), rng.randint(2, 8))) * 10
            for _ in range(10)]
    level = 15.0
    df = _img_df(spark, arrs)
    segs = contour_segments(df, [level]).collect()
    by_img = {}
    for s in segs:
        by_img.setdefault(s["image_id"], []).append(s)
    for i, a in enumerate(arrs):
        h, w = a.shape
        # expected crossed-edge multiset: interior edges belong to 2
        # cells, border edges to 1
        want = {}
        for r in range(h):
            for c in range(w - 1):  # horizontal edges
                if (a[r, c] >= level) != (a[r, c + 1] >= level):
                    mult = 2 if 0 < r < h - 1 else 1
                    want[("h", r, c)] = mult
        for r in range(h - 1):
            for c in range(w):  # vertical edges
                if (a[r, c] >= level) != (a[r + 1, c] >= level):
                    mult = 2 if 0 < c < w - 1 else 1
                    want[("v", r, c)] = mult
        cnt = {}
        for s in by_img.get(str(i), []):
            for x, y in ((s["x0"], s["y0"]), (s["x1"], s["y1"])):
                if y == int(y):  # on a horizontal edge
                    e = ("h", int(y), int(np.floor(x)))
                    p0, p1 = a[int(y), e[2]], a[int(y), e[2] + 1]
                else:
                    e = ("v", int(np.floor(y)), int(x))
                    p0, p1 = a[e[1], int(x)], a[e[1] + 1, int(x)]
                t = (x - np.floor(x)) if y == int(y) else (y - np.floor(y))
                assert abs(p0 + t * (p1 - p0) - level) < 1e-9, (i, s)
                cnt[e] = cnt.get(e, 0) + 1
        assert cnt == want, f"frame {i}\n{a}"


def test_contour_ramp_and_saddle(spark):
    from gfp_gdal_spark.operators.vectorize import contour_segments

    h, w = 6, 8
    ramp = np.tile(np.arange(w) * 16, (h, 1))
    out = contour_segments(_img_df(spark, [ramp]), [40.0]).collect()
    assert len(out) == h - 1
    for s in out:
        assert s["x0"] == 2.5 and s["x1"] == 2.5
        assert abs(s["y0"] - s["y1"]) == 1.0
    lo = np.array([[5, 0], [0, 5]])
    hi = np.array([[9, 0], [0, 9]])
    s_lo = contour_segments(_img_df(spark, [lo]), [3.0]).collect()
    s_hi = contour_segments(_img_df(spark, [hi]), [3.0]).collect()
    assert len(s_lo) == 2 and len(s_hi) == 2
    ends = lambda rows: sorted((r["x0"], r["y0"], r["x1"], r["y1"]) for r in rows)
    assert ends(s_lo) != ends(s_hi)  # the saddle rule flips the pairing


def _ref_sieve(a, min_pixels, conn=4):
    h, w = a.shape
    regs = _ref_label(a, conn)
    lab = np.zeros((h, w), int)
    for r in range(h):
        for c in range(w):
            pass
    # rebuild per-pixel region ids by flood fill (reuse _ref_label logic)
    nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if conn == 8:
        nbrs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
    lab = -np.ones((h, w), int)
    for r in range(h):
        for c in range(w):
            if lab[r, c] >= 0:
                continue
            stack, cells = [(r, c)], []
            lab[r, c] = 0
            while stack:
                y, x = stack.pop()
                cells.append((y, x))
                for dy, dx in nbrs:
                    yy, xx = y + dy, x + dx
                    if 0 <= yy < h and 0 <= xx < w and lab[yy, xx] < 0 and a[yy, xx] == a[r, c]:
                        lab[yy, xx] = 0
                        stack.append((yy, xx))
            mid = min(y * w + x for y, x in cells)
            for y, x in cells:
                lab[y, x] = mid
    sizes = {mid: v[1] for mid, v in regs.items()}
    adj = {}
    for r in range(h):
        for c in range(w):
            for dy, dx in ((0, 1), (1, 0)):
                yy, xx = r + dy, c + dx
                if yy < h and xx < w and lab[yy, xx] != lab[r, c]:
                    adj.setdefault(lab[r, c], set()).add(lab[yy, xx])
                    adj.setdefault(lab[yy, xx], set()).add(lab[r, c])
    out = a.copy()
    for mid, sz in sizes.items():
        if sz < min_pixels and mid in adj:
            tgt = min(adj[mid], key=lambda t: (-sizes[t], t))
            out[lab == mid] = a[tgt // w, tgt % w]
    return out


def test_sieve_bruteforce(spark):
    from gfp_gdal_spark.kernels.codec import decode_image
    from gfp_gdal_spark.operators.vectorize import sieve_filter

    rng = np.random.RandomState(23)
    arrs = [rng.randint(0, 2, size=(rng.randint(3, 9), rng.randint(3, 9))) * 100
            for _ in range(12)]
    arrs.append(np.full((4, 4), 7))  # single region, no neighbor -> kept
    df = _img_df(spark, arrs)
    got = {r["image_id"]: r for r in sieve_filter(df, min_pixels=3).collect()}
    for i, a in enumerate(arrs):
        r = got[str(i)]
        np.testing.assert_array_equal(
            decode_image(bytes(r["bytes"]), r["fmt"]),
            _ref_sieve(a, 3).astype(np.uint8),
            err_msg=f"frame {i}\n{a}",
        )


def test_fill_nodata_bruteforce(spark):
    from gfp_gdal_spark.kernels.codec import decode_image
    from gfp_gdal_spark.operators.vectorize import fill_nodata

    rng = np.random.RandomState(31)
    arrs = []
    for _ in range(10):
        h, w = rng.randint(2, 9), rng.randint(2, 9)
        a = np.zeros((h, w), int)
        for _s in range(rng.randint(1, 5)):
            a[rng.randint(h), rng.randint(w)] = rng.randint(1, 256)
        arrs.append(a)
    arrs.append(np.zeros((3, 4), int))  # all-nodata -> unchanged
    df = _img_df(spark, arrs)
    got = {r["image_id"]: r for r in fill_nodata(df, nodata=0).collect()}
    for i, a in enumerate(arrs):
        h, w = a.shape
        seeds = [(r, c) for r in range(h) for c in range(w) if a[r, c] != 0]
        want = a.copy()
        for r in range(h):
            for c in range(w):
                if seeds:
                    _, rs, cs = min(
                        ((r - rs) ** 2 + (c - cs) ** 2, rs, cs) for rs, cs in seeds
                    )
                    want[r, c] = a[rs, cs]
        out = got[str(i)]
        np.testing.assert_array_equal(
            decode_image(bytes(out["bytes"]), out["fmt"]),
            want.astype(np.uint8),
            err_msg=f"frame {i}\n{a}",
        )


@pytest.mark.parametrize("fmt", ["pgm", "ppm"])
def test_augment_images_parity(spark, fmt):
    from gfp_gdal_spark.kernels.codec import decode_image, encode_image
    from gfp_gdal_spark.operators.multimodal import augment_images

    rng = np.random.RandomState(5)
    ops = ["none", "hflip", "vflip", "rot180", "rot90", "rot270", "transpose"]
    arrs, rows = [], []
    for i in range(21):
        shape = (6, 4, 3) if fmt == "ppm" else (6, 4)
        a = rng.randint(0, 256, size=shape).astype(np.uint8)
        arrs.append(a)
        rows.append((str(i), bytearray(encode_image(a, fmt)), fmt, 4, 6, ops[i % 7]))
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, fmt string, w int, h int, aug_op string",
    )
    got = {r["image_id"]: r for r in augment_images(df).collect()}
    fns = {
        "none": lambda a: a,
        "hflip": lambda a: a[:, ::-1],
        "vflip": lambda a: a[::-1],
        "rot180": lambda a: a[::-1, ::-1],
        "rot90": lambda a: np.rot90(a),
        "rot270": lambda a: np.rot90(a, 3),
        "transpose": lambda a: np.swapaxes(a, 0, 1),
    }
    for i, a in enumerate(arrs):
        want = fns[ops[i % 7]](a)
        r = got[str(i)]
        assert (r["w"], r["h"]) == (want.shape[1], want.shape[0])
        np.testing.assert_array_equal(
            decode_image(bytes(r["bytes"]), r["fmt"]), want, err_msg=ops[i % 7]
        )


def test_augment_images_bad_op(spark):
    from gfp_gdal_spark.kernels.codec import encode_image
    from gfp_gdal_spark.operators.multimodal import augment_images

    df = spark.createDataFrame(
        [("0", bytearray(encode_image(np.zeros((2, 2), np.uint8), "pgm")),
          "pgm", 2, 2, "zoom")],
        "image_id string, bytes binary, fmt string, w int, h int, aug_op string",
    )
    with pytest.raises(Exception, match="unknown augment op"):
        augment_images(df).collect()


def test_image_histogram_bruteforce(spark):
    from gfp_gdal_spark.operators.multimodal import image_histogram

    rng = np.random.RandomState(41)
    arrs = [rng.randint(0, 256, size=(rng.randint(2, 7), rng.randint(2, 7)))
            for _ in range(15)]
    got = {r["val"]: r["n_pixels"] for r in image_histogram(_img_df(spark, arrs)).collect()}
    want = np.bincount(np.concatenate([a.reshape(-1) for a in arrs]), minlength=256)
    assert got == {int(v): int(want[v]) for v in np.flatnonzero(want)}


def test_equalize_images_bruteforce(spark):
    from gfp_gdal_spark.kernels.codec import decode_image
    from gfp_gdal_spark.operators.multimodal import equalize_images

    rng = np.random.RandomState(43)
    arrs = [rng.randint(0, 256, size=(rng.randint(2, 7), rng.randint(2, 7)))
            for _ in range(12)]
    arrs.append(np.full((4, 5), 77))  # constant frame -> unchanged
    got = {r["image_id"]: r for r in equalize_images(_img_df(spark, arrs)).collect()}
    for i, a in enumerate(arrs):
        hist = np.bincount(a.reshape(-1), minlength=256)
        cdf = hist.cumsum()
        cdfmin = int(cdf[np.flatnonzero(hist)[0]])
        den = a.size - cdfmin
        if den == 0:
            want = a
        else:
            want = (510 * (cdf[a] - cdfmin) + den) // (2 * den)
        r = got[str(i)]
        np.testing.assert_array_equal(
            decode_image(bytes(r["bytes"]), r["fmt"]),
            want.astype(np.uint8),
            err_msg=f"frame {i}\n{a}",
        )


def test_kmeans_lloyd_planted(spark):
    """Planted well-separated clusters: init = k smallest ids (one per
    planted cluster), so Lloyd converges to the planted partition and
    every assignment equals id % k; dist2 matches the hand-computed
    distance to the converged per-cluster mean."""
    from gfp_gdal_spark.operators.clustering import kmeans_lloyd

    n, k, dim = 120, 4, 6
    rows = []
    for i in range(n):
        c = i % k
        v = [0.01 * ((i * 7 + d) % 5) + (10.0 if d == c else 0.0) for d in range(dim)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    out = {r["doc_id"]: r for r in kmeans_lloyd(df, k=k, max_iters=8).collect()}
    assert len(out) == n
    import numpy as np

    vecs = {i: np.array(r[1]) for i, r in zip(range(n), rows)}
    for c in range(k):
        members = [i for i in range(n) if i % k == c]
        mean = np.mean([vecs[i] for i in members], axis=0)
        for i in members:
            assert out[i]["cluster"] == c, i
            want = float(((vecs[i] - mean) ** 2).sum())
            assert abs(out[i]["dist2"] - want) < 1e-6, i


def test_kmeans_lloyd_validates(spark):
    from gfp_gdal_spark.operators.clustering import kmeans_lloyd

    df = spark.createDataFrame([(0, [1.0, 0.0])], "doc_id long, embedding array<double>")
    with pytest.raises(ValueError, match="exceeds"):
        kmeans_lloyd(df, k=5)


def _sh_clip_ref(pts, xmin, ymin, xmax, ymax):
    """Scalar reference Sutherland-Hodgman (independent per-ring code
    path) for parity with the vectorized ragged kernel."""
    out = [list(p) for p in pts]
    for axis, sgn, bound in ((0, 1, xmin), (0, -1, xmax), (1, 1, ymin), (1, -1, ymax)):
        cur = out
        out = []
        for i in range(len(cur)):
            a, b = cur[i], cur[(i + 1) % len(cur)]
            da = sgn * (a[axis] - bound)
            db = sgn * (b[axis] - bound)
            if (da >= 0) != (db >= 0):
                t = da / (da - db)
                p = [a[j] + t * (b[j] - a[j]) for j in range(len(a))]
                p[axis] = bound
                out.append(p)
            if db >= 0:
                out.append(list(b))
        if not out:
            break
    return out


def test_clip_rings_kernel_parity():
    from gfp_gdal_spark.kernels.geom import (
        clip_rings_bbox, ragged_from_lists, ragged_to_arrow, signed_area,
    )

    rng = np.random.RandomState(17)
    rings = []
    for _ in range(60):
        n = rng.randint(3, 9)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.5, 3.0)
        cx, cy = rng.uniform(-2, 2, 2)
        rings.append(
            [[cx + r * np.cos(a), cy + r * np.sin(a)] for a in ang]
        )
    flat, off = ragged_from_lists(rings)
    nf, no = clip_rings_bbox(flat, off, -1.0, -0.5, 1.5, 1.25)
    got = ragged_to_arrow(nf, no).to_pylist()
    for i, ring in enumerate(rings):
        want = _sh_clip_ref(ring, -1.0, -0.5, 1.5, 1.25)
        np.testing.assert_allclose(
            np.array(got[i]).reshape(-1, 2),
            np.array(want).reshape(-1, 2),
            atol=1e-12, err_msg=str(i),
        )
    # idempotence: clipping the clipped batch changes nothing
    nf2, no2 = clip_rings_bbox(nf, no, -1.0, -0.5, 1.5, 1.25)
    np.testing.assert_allclose(np.abs(signed_area(nf2, no2)),
                               np.abs(signed_area(nf, no)), atol=1e-12)


def test_clip_polygons_rect_exact(spark):
    """Axis-aligned rect inputs: clipped area equals the closed-form
    rectangle intersection; fully-outside rows dropped."""
    from gfp_gdal_spark.operators.transforms import clip_polygons

    rng = np.random.RandomState(19)
    rows, want = [], {}
    B = (0.0, 0.0, 10.0, 8.0)
    for i in range(50):
        x0, y0 = rng.uniform(-12, 12), rng.uniform(-10, 10)
        wdt, hgt = rng.uniform(0.5, 6), rng.uniform(0.5, 6)
        ring = [[x0, y0], [x0 + wdt, y0], [x0 + wdt, y0 + hgt], [x0, y0 + hgt]]
        rows.append((i, ring))
        ix = max(0.0, min(x0 + wdt, B[2]) - max(x0, B[0]))
        iy = max(0.0, min(y0 + hgt, B[3]) - max(y0, B[1]))
        if ix > 0 and iy > 0:
            want[i] = ix * iy
    df = spark.createDataFrame(rows, "pid long, ring array<array<double>>")
    got = {r["pid"]: r["clip_area"] for r in clip_polygons(df, B).collect()}
    assert set(got) == set(want)
    for i, a in want.items():
        assert abs(got[i] - a) < 1e-9, i


def _rep_ref(text, ns=(2, 3, 4)):
    """Independent Python reference for repetition_stats."""
    out = {"n_chars": len(text)}
    lines = [l for l in text.split("\n") if l]
    out["n_lines"] = len(lines)
    from collections import Counter

    lc = Counter(lines)
    tot = sum(len(l) for l in lines)
    dup = sum(len(l) for l in lines if lc[l] > 1)
    out["dup_line_frac"] = dup / tot if tot else 0.0
    toks = text.lower().split(" ")
    for n in ns:
        grams = Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ) if len(toks) >= n else Counter()
        out[f"top{n}gram_frac"] = (
            max((c * len(g) for g, c in grams.items()), default=0) / len(text)
            if text
            else 0.0
        )
    return out


def test_repetition_stats_bruteforce(spark):
    from gfp_gdal_spark.operators.curation import repetition_stats

    rng = np.random.RandomState(23)
    words = ["aa", "b", "ccc", "dd", "e"]
    rows = []
    for i in range(40):
        n = rng.randint(0, 30)
        toks = [words[j] for j in rng.randint(0, len(words), n)]
        txt = " ".join(toks)
        # sprinkle newlines to make lines
        if n > 4:
            txt = txt.replace(" b ", "\nb\n", 1)
        rows.append((i, txt))
    rows += [(100, ""), (101, "solo"), (102, "x\nx\nx\ny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert set(got) == {r[0] for r in rows}
    for i, txt in rows:
        want = _rep_ref(txt)
        for kcol, v in want.items():
            assert abs(got[i][kcol] - v) < 1e-12, (i, kcol, got[i], want)


def test_repetition_stats_validates(spark):
    from gfp_gdal_spark.operators.curation import repetition_stats

    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="positive"):
        repetition_stats(df, ngram_ns=(0,))


def test_redact_pii_bruteforce(spark):
    import re

    from gfp_gdal_spark.operators.curation import (
        DEFAULT_PII_PATTERNS, redact_pii,
    )

    texts = [
        "mail a.b@c-d.org and z@q.io now",
        "hosts 10.2.3.4 192.168.250.1 up",
        "call +1 555-123-4567 or +44 207-946-0958",
        "mixed bob@x.co at 8.8.8.8 tel +1 800-555-1212",
        "none at all",
        "",
        "edge 999.999.999.999 and 1.2.3.4.5",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    for i, t in enumerate(texts):
        cur = t
        for name, pat, repl in DEFAULT_PII_PATTERNS:
            matches = re.findall(pat, cur)
            assert got[i][f"n_{name}"] == len(matches), (i, name, cur)
            cur = re.sub(pat, repl, cur)
        assert got[i]["text"] == cur, i


def test_redact_pii_validates(spark):
    from gfp_gdal_spark.operators.curation import redact_pii

    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        redact_pii(df, patterns=())


def _segmentize_ref(pts, max_len, closed=True):
    """Scalar reference densify for parity with the ragged kernel."""
    import math

    out = []
    edges = list(range(len(pts))) if closed else list(range(len(pts) - 1))
    for i in edges:
        a = pts[i]
        b = pts[(i + 1) % len(pts)]
        L = math.hypot(b[0] - a[0], b[1] - a[1])
        k = max(math.ceil(L / max_len), 1)
        out.append(list(a))
        for j in range(1, k):
            t = j / k
            out.append([a[c] + t * (b[c] - a[c]) for c in range(len(a))])
    if not closed:
        out.append(list(pts[-1]))
    return out


@pytest.mark.parametrize("closed", [True, False])
def test_segmentize_kernel_parity(closed):
    from gfp_gdal_spark.kernels.geom import (
        ragged_from_lists, ragged_to_arrow, segmentize_rings,
    )

    rng = np.random.RandomState(31)
    rings = []
    for _ in range(50):
        n = rng.randint(2, 9)
        rings.append(rng.uniform(-5, 5, (n, 2)).tolist())
    flat, off = ragged_from_lists(rings)
    nf, no = segmentize_rings(flat, off, 0.9, closed=closed)
    got = ragged_to_arrow(nf, no).to_pylist()
    for i, ring in enumerate(rings):
        want = _segmentize_ref(ring, 0.9, closed=closed)
        np.testing.assert_allclose(
            np.array(got[i]), np.array(want), atol=1e-12, err_msg=str(i)
        )
        # original vertices preserved EXACTLY (bit-equal)
        want_orig = np.array(ring)
        got_a = np.array(got[i])
        for v in want_orig:
            assert (got_a == v).all(axis=1).any()


def test_segmentize_passthrough_and_validate():
    from gfp_gdal_spark.kernels.geom import (
        ragged_from_lists, segmentize_rings,
    )

    rings = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0]]]
    flat, off = ragged_from_lists(rings)
    nf, no = segmentize_rings(flat, off, 1e9)
    assert (nf == flat).all() and (no == off).all()
    with pytest.raises(ValueError, match="max_len"):
        segmentize_rings(flat, off, 0.0)


def test_segmentize_polygons_spark(spark):
    from gfp_gdal_spark.operators.transforms import segmentize_polygons

    ring = [[0.0, 0.0], [3.0, 0.0], [3.0, 2.0], [0.0, 2.0]]
    df = spark.createDataFrame([(1, ring)], "pid long, ring array<array<double>>")
    out = segmentize_polygons(df, 1.0).collect()[0]["ring"]
    assert len(out) == 10
    np.testing.assert_allclose(
        np.array(out), np.array(_segmentize_ref(ring, 1.0)), atol=0
    )


def _idw_ref(pts, bbox, w, h, R):
    """Scalar reference IDW (snap -> circular scatter -> exact rule)."""
    import math as _m
    from collections import defaultdict

    xmin, ymin, xmax, ymax = bbox
    dx, dy = (xmax - xmin) / w, (ymax - ymin) / h
    cells = defaultdict(list)
    for x, y, v in pts:
        pr = _m.floor((ymax - y) / dy)
        pc = _m.floor((x - xmin) / dx)
        if 0 <= pr < h and 0 <= pc < w:
            cells[(pr, pc)].append(v)
    acc = defaultdict(lambda: [0, 0, 0.0, 0.0, 0])  # n0, s0, sv, sw, n
    for (pr, pc), vals in cells.items():
        for v in vals:
            for dr in range(-R, R + 1):
                for dc in range(-R, R + 1):
                    d2 = dr * dr + dc * dc
                    if d2 > R * R:
                        continue
                    r, c = pr + dr, pc + dc
                    if not (0 <= r < h and 0 <= c < w):
                        continue
                    a = acc[(r, c)]
                    a[4] += 1
                    if d2 == 0:
                        a[0] += 1
                        a[1] += v
                    else:
                        a[2] += v / d2
                        a[3] += 1.0 / d2
    out = {}
    for k, (n0, s0, sv, sw, n) in acc.items():
        out[k] = (s0 / n0 if n0 else sv / sw, n)
    return out


def test_idw_grid_bruteforce(spark):
    from gfp_gdal_spark.operators.map_algebra import idw_grid

    rng = np.random.RandomState(41)
    pts = [
        (float(x), float(y), int(v))
        for x, y, v in zip(
            rng.uniform(-6, 6, 120), rng.uniform(-5, 5, 120),
            rng.randint(0, 500, 120),
        )
    ]
    bbox, w, h, R = (-5.0, -4.0, 5.0, 4.0), 10, 8, 2
    df = spark.createDataFrame(pts, "lon double, lat double, val int")
    got = {
        (r["px_r"], r["px_c"]): (r["idw"], r["n_pts"])
        for r in idw_grid(df, bbox, w, h, "val", radius_px=R).collect()
    }
    want = _idw_ref(pts, bbox, w, h, R)
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1], k
        assert abs(got[k][0] - want[k][0]) < 1e-9, (k, got[k], want[k])


def test_idw_grid_validates(spark):
    from gfp_gdal_spark.operators.map_algebra import idw_grid

    df = spark.createDataFrame(
        [(0.0, 0.0, 1.5)], "lon double, lat double, val double"
    )
    with pytest.raises(ValueError, match="integral"):
        idw_grid(df, (0, 0, 1, 1), 2, 2, "val")
    df2 = spark.createDataFrame([(0.0, 0.0, 1)], "lon double, lat double, val int")
    with pytest.raises(ValueError, match="degenerate"):
        idw_grid(df2, (1, 0, 0, 1), 2, 2, "val")


def test_sample_raster_bruteforce(spark):
    from gfp_gdal_spark.kernels import codec as _codec
    from gfp_gdal_spark.operators.raster import sample_raster
    from gfp_gdal_spark.sources import datagen

    imgs = datagen.images_table(spark, 40, with_bytes=True)
    # probes: 3 per image at deterministic in-bounds coords
    reqs = []
    ref = {}
    pdf = datagen.images_pandas(40, with_bytes=True)
    for _, row in pdf.iterrows():
        i = int(row["image_id"][3:])
        for j in range(3):
            r = (i * 3 + j * 7) % row["h"]
            c = (i * 5 + j * 11) % row["w"]
            pid = i * 10 + j
            reqs.append((pid, row["image_id"], int(r), int(c)))
            pix = _codec.decode_image(bytes(row["bytes"]), row["fmt"])
            ch = pix[..., 0] if pix.ndim == 3 else pix
            ref[pid] = float(ch[r, c])
    rdf = spark.createDataFrame(
        reqs, "pid long, image_id string, px_r int, px_c int"
    )
    got = {r["pid"]: r["val"] for r in sample_raster(rdf, imgs).collect()}
    assert got == ref


def test_sample_raster_oob_fails(spark):
    from gfp_gdal_spark.operators.raster import sample_raster
    from gfp_gdal_spark.sources import datagen

    imgs = datagen.images_table(spark, 3, with_bytes=True)
    rdf = spark.createDataFrame(
        [(1, "img00000000", 999, 0)], "pid long, image_id string, px_r int, px_c int"
    )
    with pytest.raises(Exception, match="out of bounds"):
        sample_raster(rdf, imgs).collect()


def test_idw_grid_single_shuffle(spark):
    """The scatter-agg must be ONE Exchange with no Python stage."""
    from gfp_gdal_spark.operators.map_algebra import idw_grid

    df = spark.createDataFrame(
        [(0.5, 0.5, 7)], "lon double, lat double, val int"
    )
    q = idw_grid(df, (0.0, 0.0, 4.0, 4.0), 4, 4, "val")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan, plan


def test_crop_images_bruteforce(spark):
    from gfp_gdal_spark.kernels import codec as _codec
    from gfp_gdal_spark.operators.multimodal import crop_images
    from gfp_gdal_spark.sources import datagen

    imgs = datagen.images_table(spark, 30, with_bytes=True)
    out = crop_images(imgs, 1, 2, 8, 8).collect()
    pdf = datagen.images_pandas(30, with_bytes=True).set_index("image_id")
    assert len(out) == 30
    for row in out:
        assert (row["w"], row["h"]) == (8, 8)
        src = pdf.loc[row["image_id"]]
        want = _codec.decode_image(bytes(src["bytes"]), src["fmt"])[1:9, 2:10]
        got = _codec.decode_image(bytes(row["bytes"]), row["fmt"])
        if row["fmt"] == "qnt":
            # qnt re-quantizes: values stay within one 4-wide bin
            assert np.abs(got.astype(int) - want.astype(int)).max() <= 3
        else:
            np.testing.assert_array_equal(got, want)


def test_crop_images_validates(spark):
    from gfp_gdal_spark.operators.multimodal import crop_images
    from gfp_gdal_spark.sources import datagen

    imgs = datagen.images_table(spark, 3, with_bytes=True)
    with pytest.raises(ValueError, match="bad crop"):
        crop_images(imgs, -1, 0, 4, 4)
    with pytest.raises(Exception, match="exceeds"):
        crop_images(imgs, 0, 0, 999, 4).collect()


def _union_area_ref(rects):
    """Independent scanline reference for rectangle-union area."""
    xs = sorted({x for r in rects for x in (r[0], r[2])})
    total = 0.0
    for a, b in zip(xs[:-1], xs[1:]):
        ivs = sorted(
            (r[1], r[3]) for r in rects if r[0] <= a and r[2] >= b
        )
        cur = None
        length = 0.0
        for lo, hi in ivs:
            if cur is None or lo > cur[1]:
                if cur:
                    length += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur:
            length += cur[1] - cur[0]
        total += (b - a) * length
    return total


def test_coverage_area_bruteforce(spark):
    from gfp_gdal_spark.operators.coverage import coverage_area

    rng = np.random.RandomState(47)
    rows = []
    ref = {}
    for k in range(25):
        m = rng.randint(1, 9)
        rects = []
        for _ in range(m):
            x0, y0 = rng.uniform(-5, 5, 2)
            w, h = rng.uniform(0.2, 4, 2)
            rects.append((float(x0), float(y0), float(x0 + w), float(y0 + h)))
            rows.append((k, *rects[-1]))
        ref[k] = (m, _union_area_ref(rects))
    df = spark.createDataFrame(
        rows, "k long, xmin double, ymin double, xmax double, ymax double"
    )
    got = {
        r["k"]: (r["n_rects"], r["union_area"])
        for r in coverage_area(df, "k").collect()
    }
    assert set(got) == set(ref)
    for k, (m, a) in ref.items():
        assert got[k][0] == m
        assert abs(got[k][1] - a) < 1e-9, (k, got[k], a)


def test_coverage_area_validates(spark):
    from gfp_gdal_spark.operators.coverage import coverage_area

    df = spark.createDataFrame(
        [(0, 1.0, 0.0, 0.5, 1.0)],
        "k long, xmin double, ymin double, xmax double, ymax double",
    )
    with pytest.raises(Exception, match="degenerate"):
        coverage_area(df, "k").collect()
    df2 = spark.createDataFrame(
        [(0, 0.0, 0.0, 1.0, 1.0), (0, 0.5, 0.0, 1.5, 1.0)],
        "k long, xmin double, ymin double, xmax double, ymax double",
    )
    with pytest.raises(Exception, match="max_rects"):
        coverage_area(df2, "k", max_rects=1).collect()


def _paragraph_dedup_ref(docs, sep="\n", min_chars=1):
    """Independent reference: global first-occurrence paragraph dedup."""
    seen = {}
    order = sorted(docs)
    for d in order:
        for p_i, para in enumerate(docs[d].split(sep)):
            if len(para) >= min_chars and para not in seen:
                seen[para] = (d, p_i)
    out = {}
    for d in order:
        paras = docs[d].split(sep)
        kept = [
            p
            for i, p in enumerate(paras)
            if len(p) < min_chars or seen[p] == (d, i)
        ]
        out[d] = (sep.join(kept), len(paras), len(paras) - len(kept))
    return out


def test_paragraph_dedup_bruteforce(spark):
    from gfp_gdal_spark.operators.curation import paragraph_dedup

    rng = np.random.RandomState(53)
    vocab = ["aa bb", "cc dd ee", "ff", "gg hh", "", "aa bb"]
    docs = {}
    for d in range(30):
        n = rng.randint(1, 6)
        docs[d] = "\n".join(vocab[j] for j in rng.randint(0, len(vocab), n))
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_dropped"])
        for r in paragraph_dedup(df).collect()
    }
    want = _paragraph_dedup_ref(docs)
    assert got == want


def test_resample_series_bruteforce(spark):
    import datetime as dt

    from gfp_gdal_spark.operators.temporal import resample_series

    rng = np.random.RandomState(59)
    rows = []
    base = dt.datetime(2024, 1, 1)
    for eid in range(300):
        k = int(rng.randint(0, 5))
        ts = base + dt.timedelta(seconds=float(rng.uniform(0, 3600)))
        rows.append((eid, ts, k, float(round(rng.uniform(0, 50), 2))))
    # planted duplicate-timestamp tie: same key, same ts, two ids
    rows.append((1000, base, 9, 1.0))
    rows.append((1001, base, 9, 2.0))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    got = {
        (r["user_id"], r["bucket"]): r.asDict()
        for r in resample_series(df, "user_id", width_s=600.0).collect()
    }
    from collections import defaultdict

    buckets = defaultdict(list)
    for eid, ts, k, v in rows:
        buckets[(k, int(ts.timestamp() // 600))].append((ts, eid, v))
    assert set(got) == set(buckets)
    for key, evs in buckets.items():
        evs.sort()
        g = got[key]
        assert g["n"] == len(evs)
        assert g["first_val"] == evs[0][2] and g["last_val"] == evs[-1][2]
        assert g["vmin"] == min(v for _, _, v in evs)
        assert g["vmax"] == max(v for _, _, v in evs)
        cents = sum(round(v * 100) for _, _, v in evs)
        assert abs(g["vmean"] - cents / (100.0 * len(evs))) < 1e-12
    # the tie bucket: first by (ts, id) = id 1000 -> 1.0
    assert got[(9, int(base.timestamp() // 600))]["first_val"] == 1.0
    assert got[(9, int(base.timestamp() // 600))]["last_val"] == 2.0


def _dp_line_ref(pts, tol):
    """Scalar recursive DP reference for open polylines."""
    import math

    if len(pts) < 3:
        return [list(p) for p in pts]
    ax, ay = pts[0][:2]
    bx, by = pts[-1][:2]
    L = math.hypot(bx - ax, by - ay)
    best, bi = -1.0, -1
    for i in range(1, len(pts) - 1):
        px, py = pts[i][:2]
        if L == 0:
            d = math.hypot(px - ax, py - ay)
        else:
            d = abs((bx - ax) * (ay - py) - (ax - px) * (by - ay)) / L
        if d > best:
            best, bi = d, i
    if best <= tol:
        return [list(pts[0]), list(pts[-1])]
    return _dp_line_ref(pts[: bi + 1], tol)[:-1] + _dp_line_ref(pts[bi:], tol)


def test_simplify_lines_kernel_parity():
    from gfp_gdal_spark.kernels.geom import (
        ragged_from_lists, ragged_to_arrow, simplify_lines,
    )

    rng = np.random.RandomState(61)
    lines = []
    for _ in range(60):
        n = rng.randint(2, 12)
        lines.append(rng.uniform(-5, 5, (n, 2)).tolist())
    flat, off = ragged_from_lists(lines)
    nf, no = simplify_lines(flat, off, 0.5)
    got = ragged_to_arrow(nf, no).to_pylist()
    for i, ln in enumerate(lines):
        np.testing.assert_allclose(
            np.array(got[i]), np.array(_dp_line_ref(ln, 0.5)), atol=0,
            err_msg=str(i),
        )


def test_simplify_polylines_spark(spark):
    from gfp_gdal_spark.operators.lines import simplify_polylines

    rows = [
        (0, [[0.0, 0.0], [1.0, 0.001], [2.0, 0.0]]),
        (1, [[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]]),
        (2, [[0.0, 0.0], [5.0, 5.0]]),
    ]
    df = spark.createDataFrame(rows, "lid long, line array<array<double>>")
    got = {r["lid"]: r["line"] for r in simplify_polylines(df, 0.01).collect()}
    assert got[0] == [[0.0, 0.0], [2.0, 0.0]]
    assert got[1] == rows[1][1]
    assert got[2] == rows[2][1]


def _pagerank_ref(edges, d=0.85, it=20):
    """Dense-numpy PageRank reference with uniform dangling patch."""
    verts = sorted({v for e in edges for v in e})
    ix = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    from collections import defaultdict

    outd = defaultdict(int)
    for s, _ in edges:
        outd[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(it):
        nr = np.full(n, (1 - d) / n)
        dm = sum(r[ix[v]] for v in verts if outd[v] == 0)
        nr += d * dm / n
        for s, t in edges:
            nr[ix[t]] += d * r[ix[s]] / outd[s]
        r = nr
    return {v: r[ix[v]] for v in verts}


def test_pagerank_bruteforce(spark):
    from gfp_gdal_spark.plans.graph import pagerank

    rng = np.random.RandomState(67)
    edges = list({(int(a), int(b)) for a, b in rng.randint(0, 30, (120, 2)) if a != b})
    # add a dangling vertex (in-edges only)
    edges.append((3, 999))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["v"]: r["rank"] for r in pagerank(df, n_iter=15).collect()}
    want = _pagerank_ref(edges, it=15)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_cycle_uniform(spark):
    from gfp_gdal_spark.plans.graph import pagerank

    n = 50
    df = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    got = [r["rank"] for r in pagerank(df, n_iter=5).collect()]
    assert len(got) == n
    for r in got:
        assert abs(r - 1.0 / n) < 1e-12


def test_pagerank_validates(spark):
    from gfp_gdal_spark.plans.graph import pagerank

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.5)
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(df, n_iter=0)


def _tok_hash_ref(tok):
    h = 0
    for i, b in enumerate(tok.encode("utf-8")):
        h = (h + b * pow(31, i, 1 << 64)) % (1 << 64)
    return h


def test_token_hash64_parity(spark):
    from gfp_gdal_spark.functions.text import token_hash64

    toks = ["", "a", "table", "zzzzzzzzzzzzzzzz", "héllo", "x" * 40]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(toks)], "i long, t string")
    got = {r["i"]: r["h"] for r in df.select("i", token_hash64(F.col("t")).alias("h")).collect()}
    for i, t in enumerate(toks):
        want = _tok_hash_ref(t)
        assert got[i] % (1 << 64) == want, (t, got[i], want)


def test_lr_quality_score_bruteforce(spark):
    from gfp_gdal_spark.operators.curation import lr_quality_score

    vocab = [("table", 0.4), ("slow", -0.6), ("fast", 0.5), ("scan", -0.1)]
    wdf = spark.createDataFrame(vocab, "token string, weight double")
    docs = [
        (0, "table scan fast"),
        (1, "slow slow query"),
        (2, "nothing matches here"),
        (3, "Table FAST"),  # lowercased on both sides
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in lr_quality_score(df, wdf, bias=0.1).collect()
    }
    wmap = dict(vocab)
    for d, txt in docs:
        toks = [t for t in txt.lower().split(" ") if t]
        su = sum(round(wmap[t] * 1e6) for t in toks if t in wmap)
        logit = 0.1 + su / (1e6 * len(toks))
        assert got[d]["n_tokens"] == len(toks)
        assert got[d]["n_matched"] == sum(t in wmap for t in toks)
        assert abs(got[d]["logit"] - logit) < 1e-15, (d, got[d], logit)
        import math

        assert abs(got[d]["score"] - 1 / (1 + math.exp(-logit))) < 1e-12


# ---------------------------------------------------------------- #
# viewshed (gdal_viewshed analog, Wang 2000)                        #
# ---------------------------------------------------------------- #


def _ref_viewshed(a, r0, c0, oh, th=0.0):
    """Scalar Wang-propagation reference: per-quadrant, pixel-by-pixel
    recursion with the SAME op order as the vectorized kernel
    (interpolate, then prorate by d/(d-1)) — booleans must match
    bitwise."""
    h, w = a.shape
    zo = float(a[r0, c0]) + oh
    Z = a.astype(float) - zo
    aux = np.full((h, w), np.nan)
    aux[r0, c0] = -np.inf

    def sweep(zf, auxf, rr0, cc0):
        H, W = zf.shape
        eprev = {}
        for d in range(1, W - cc0):
            c = cc0 + d
            ecur = {}
            for r in range(max(rr0 - d, 0), min(rr0 + d, H - 1) + 1):
                dr = r - rr0
                if d == 1:
                    val = -np.inf
                else:
                    absdr = abs(dr)
                    rA = rr0 + np.sign(dr) * (absdr - 1)
                    wA = absdr / float(d)
                    wB = 1.0 - wA
                    eb = eprev[r] if wB > 0.0 else 0.0
                    val = (wA * eprev[int(rA)] + wB * eb) * (d / (d - 1.0))
                auxf[r, c] = val
                ecur[r] = max(zf[r, c], val)
            eprev = ecur

    sweep(Z, aux, r0, c0)
    sweep(Z[:, ::-1], aux[:, ::-1], r0, w - 1 - c0)
    Zt, auxt = Z.T.copy(), aux.T  # note: .T of aux is a view -> writes land
    # transpose view of Z is fine too; copy only to silence read strides
    sweep(Z.T, auxt, c0, r0)
    sweep(Z.T[:, ::-1], auxt[:, ::-1], c0, h - 1 - r0)
    return (Z + th) >= aux


def test_viewshed_flat_and_wall(spark):
    from gfp_gdal_spark.operators.vectorize import viewshed

    flat = np.zeros((7, 9), int)
    wall = np.zeros((7, 9), int)
    wall[:, 5] = 80  # full-height wall east of the observer
    df = _img_df(spark, [flat, wall])
    got = {
        (r["image_id"], r["r"], r["c"]): r["visible"]
        for r in viewshed(df, 3, 2, observer_height=2.0).collect()
    }
    # flat terrain, elevated eye: everything visible
    assert all(got[("0", r, c)] for r in range(7) for c in range(9))
    # wall frame: wall face visible, everything strictly behind it dark
    assert got[("1", 3, 5)]
    assert not any(got[("1", r, c)] for r in range(7) for c in range(6, 9))
    # in front of the wall everything is visible
    assert all(got[("1", r, c)] for r in range(7) for c in range(5))


def test_viewshed_reference_parity(spark):
    from gfp_gdal_spark.operators.vectorize import viewshed

    rng = np.random.RandomState(23)
    arrs = [rng.randint(0, 90, size=(rng.randint(2, 11), rng.randint(2, 11)))
            for _ in range(14)]
    arrs += [rng.randint(0, 90, size=(1, 17)), rng.randint(0, 90, size=(13, 1))]
    for (r0, c0) in [(0, 0), (1, 0)]:
        ok_shapes = [a for a in arrs if a.shape[0] > r0 and a.shape[1] > c0]
        df = _img_df(spark, ok_shapes)
        got = {
            (r["image_id"], r["r"], r["c"]): r["visible"]
            for r in viewshed(df, r0, c0, observer_height=1.5).collect()
        }
        for i, a in enumerate(ok_shapes):
            want = _ref_viewshed(a, r0, c0, 1.5)
            for r in range(a.shape[0]):
                for c in range(a.shape[1]):
                    assert got[(str(i), r, c)] == want[r, c], (i, r, c, a)


def test_viewshed_center_observer_parity(spark):
    from gfp_gdal_spark.operators.vectorize import viewshed

    rng = np.random.RandomState(29)
    arrs = [rng.randint(0, 120, size=(9, 9)) for _ in range(8)]
    df = _img_df(spark, arrs)
    got = {
        (r["image_id"], r["r"], r["c"]): r["visible"]
        for r in viewshed(df, 4, 4, observer_height=0.5, target_height=1.0).collect()
    }
    for i, a in enumerate(arrs):
        want = _ref_viewshed(a, 4, 4, 0.5, 1.0)
        assert all(
            got[(str(i), r, c)] == want[r, c] for r in range(9) for c in range(9)
        ), (i, a)


def test_viewshed_height_monotone_and_oob(spark):
    from gfp_gdal_spark.operators.vectorize import viewshed

    rng = np.random.RandomState(31)
    a = rng.randint(0, 100, size=(10, 10))
    df = _img_df(spark, [a])
    n_low = viewshed(df, 5, 5, observer_height=0.5).where("visible").count()
    n_high = viewshed(df, 5, 5, observer_height=1000.0).where("visible").count()
    # an eye far above the terrain's whole relief sees every pixel
    assert n_low <= n_high == 100
    with pytest.raises(Exception):
        viewshed(df, 10, 0).count()  # K9 fail-loud, observer outside frame
    with pytest.raises(ValueError):
        viewshed(df, -1, 0)


# ---------------------------------------------------------------- #
# rescale_images (gdal_translate -scale analog)                     #
# ---------------------------------------------------------------- #


def _ref_rescale(a, smin, smax, dmin, dmax):
    p = a.astype(np.int64)
    if smin is None:
        smin, smax = int(p.min()), int(p.max())
    span = smax - smin
    if span == 0:
        return np.full_like(p, dmin).astype(np.uint8)
    v = np.clip(p, smin, smax)
    return ((2 * (v - smin) * (dmax - dmin) + span) // (2 * span) + dmin).astype(
        np.uint8
    )


def _decode_rows(rows):
    from gfp_gdal_spark.kernels.codec import decode_image

    return {
        r["image_id"]: decode_image(bytes(r["bytes"]), r["fmt"]) for r in rows
    }


@pytest.mark.parametrize(
    "bounds", [(None, None, 0, 255), (10, 200, 0, 255), (0, 96, 10, 250)]
)
def test_rescale_pixel_parity(spark, bounds):
    from gfp_gdal_spark.operators.multimodal import rescale_images

    smin, smax, dmin, dmax = bounds
    rng = np.random.RandomState(17)
    arrs = [rng.randint(0, 256, size=(rng.randint(2, 9), rng.randint(2, 9)))
            for _ in range(8)]
    arrs.append(np.full((4, 4), 77))  # constant frame -> dst_min
    df = _img_df(spark, arrs)
    got = _decode_rows(
        rescale_images(df, smin, smax, dst_min=dmin, dst_max=dmax).collect()
    )
    for i, a in enumerate(arrs):
        want = _ref_rescale(a, smin, smax, dmin, dmax)
        assert (got[str(i)] == want).all(), (i, a, got[str(i)], want)


def test_rescale_color_and_args(spark):
    from gfp_gdal_spark.kernels.codec import encode_image
    from gfp_gdal_spark.operators.multimodal import rescale_images

    rng = np.random.RandomState(19)
    a = rng.randint(0, 256, size=(5, 6, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [("c0", bytearray(encode_image(a, "ppm")), "ppm", 6, 5)],
        "image_id string, bytes binary, fmt string, w int, h int",
    )
    got = _decode_rows(rescale_images(df, 50, 180).collect())
    assert (got["c0"] == _ref_rescale(a, 50, 180, 0, 255)).all()
    with pytest.raises(ValueError):
        rescale_images(df, 10, None)
    with pytest.raises(ValueError):
        rescale_images(df, 20, 10)
    with pytest.raises(ValueError):
        rescale_images(df, None, None, dst_min=-1)


# ---------------------------------------------------------------- #
# hashed_tfidf                                                      #
# ---------------------------------------------------------------- #


def test_hashed_tfidf_reference_parity(spark):
    import math

    from gfp_gdal_spark.operators.retrieval import hashed_tfidf

    docs = [
        (0, "spark shuffles spark rows"),
        (1, "rows and rows of spark"),
        (2, "completely different tokens here"),
        (3, ""),  # tokenless doc: no feature rows, still counts in N
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    dim = 1 << 20
    out = hashed_tfidf(df, dim=dim).toPandas()

    def h31(t):
        v = 0
        for i, b in enumerate(t.encode()):
            v = (v + b * pow(31, i, 1 << 64)) % (1 << 64)
        return v % dim

    # independent reference
    from collections import Counter, defaultdict

    tf = {d: Counter(h31(t) for t in txt.lower().split(" ") if t) for d, txt in docs}
    dfreq = defaultdict(int)
    for d in tf:
        for f in tf[d]:
            dfreq[f] += 1
    n = len(docs)
    got = {(r.doc_id, r.fid): (r.tf, r.df, r.n_docs, r.weight) for r in out.itertuples()}
    want_keys = {(d, f) for d in tf for f in tf[d]}
    assert set(got) == want_keys
    for (d, f), (tfv, dfv, nv, wv) in got.items():
        assert tfv == tf[d][f] and dfv == dfreq[f] and nv == n
        assert abs(wv - tfv * (math.log((n + 1) / (dfv + 1)) + 1.0)) < 1e-12
    assert not (out.doc_id == 3).any()

    # assembled form: fid-sorted parallel arrays, same content
    asm = hashed_tfidf(df, dim=dim, assemble=True).toPandas().set_index("doc_id")
    for d in (0, 1, 2):
        fids = list(asm.loc[d, "fids"])
        assert fids == sorted(fids)
        for f, w in zip(fids, asm.loc[d, "weights"]):
            assert abs(got[(d, f)][3] - w) < 1e-12
    with pytest.raises(ValueError):
        hashed_tfidf(df, dim=0)


# ---------------------------------------------------------------- #
# polygon_join (interiors-intersect overlap join)                   #
# ---------------------------------------------------------------- #


def _sat_interiors_intersect(pa, pb):
    """Exact separating-axis test for CONVEX polygons: interiors
    intersect iff NO edge normal of either polygon strictly separates
    (touching = separated with zero gap -> no interior overlap)."""
    import numpy as np

    def axes(p):
        e = np.roll(p, -1, axis=0) - p
        return np.stack([-e[:, 1], e[:, 0]], axis=1)

    for ax in np.vstack([axes(pa), axes(pb)]):
        a0, a1 = (pa @ ax).min(), (pa @ ax).max()
        b0, b1 = (pb @ ax).min(), (pb @ ax).max()
        if a1 <= b0 or b1 <= a0:  # separated or just touching
            return False
    return True


def _convex_poly(rng, cx, cy, r):
    """Random convex ring (CCW, unclosed): hull of points on a circle."""
    import numpy as np

    k = rng.randint(4, 9)
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    return np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)


def _poly_rows(polys, ring_col):
    return [(i, [[float(x), float(y)] for x, y in p]) for i, p in enumerate(polys)]


def test_polygon_join_sat_parity(spark):
    import numpy as np

    from gfp_gdal_spark.operators.joins import polygon_join

    rng = np.random.RandomState(37)
    A = [_convex_poly(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(0.3, 1.6))
         for _ in range(25)]
    B = [_convex_poly(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(0.3, 1.6))
         for _ in range(25)]
    la = spark.createDataFrame(_poly_rows(A, "l_ring"),
                               "l_id long, l_ring array<array<double>>")
    rb = spark.createDataFrame(_poly_rows(B, "r_ring"),
                               "r_id long, r_ring array<array<double>>")
    got = {(r["l_id"], r["r_id"])
           for r in polygon_join(la, rb, z=6).select("l_id", "r_id").collect()}
    want = {(i, j) for i, a in enumerate(A) for j, b in enumerate(B)
            if _sat_interiors_intersect(a, b)}
    assert got == want
    assert len(want) > 10  # the fixture really exercises overlap


def test_polygon_join_containment_and_touch(spark):
    from gfp_gdal_spark.operators.joins import polygon_join

    sq = lambda x0, y0, s: [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]]
    A = [(0, sq(0.0, 0.0, 4.0)), (1, sq(10.0, 0.0, 2.0)), (2, sq(30.0, 0.0, 2.0))]
    #       contains B0          overlapped by B2 corner     disjoint from all
    B = [(0, sq(1.0, 1.0, 1.0)), (1, sq(12.5, 0.0, 2.0)), (2, sq(0.5, 0.5, 10.0))]
    la = spark.createDataFrame(A, "l_id long, l_ring array<array<double>>")
    rb = spark.createDataFrame(B, "r_id long, r_ring array<array<double>>")
    got = {(r["l_id"], r["r_id"])
           for r in polygon_join(la, rb, z=6).select("l_id", "r_id").collect()}
    # containment (both directions counted once per pair), partial
    # overlap, but NOT the gapped neighbor (A1/B1) or the far square
    assert got == {(0, 0), (0, 2), (1, 2)}
    with pytest.raises(ValueError):
        polygon_join(la.withColumnRenamed("l_ring", "ring"),
                     rb.withColumnRenamed("r_ring", "ring"),
                     l_ring="ring", r_ring="ring")


# ---------------------------------------------------------------- #
# bfs_hops (multi-source min-hop distance)                          #
# ---------------------------------------------------------------- #


def test_bfs_hops_reference_parity(spark):
    import collections

    from gfp_gdal_spark.plans.graph import bfs_hops

    rng = np.random.RandomState(47)
    n = 60
    edges = {(int(rng.randint(n)), int(rng.randint(n))) for _ in range(90)}
    edges = [(a, b) for a, b in edges if a != b]
    seeds = [0, 17, 41]
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in seeds], "v long")
    got = {r["vertex"]: r["hops"] for r in bfs_hops(e, s, max_hops=30).collect()}

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want, q = {x: 0 for x in seeds}, collections.deque(seeds)
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    assert got == want


def test_bfs_hops_directed_and_truncation(spark):
    from gfp_gdal_spark.plans.graph import bfs_hops

    # directed path 0 -> 1 -> 2 -> 3 -> 4
    e = spark.createDataFrame([(i, i + 1) for i in range(4)], "src long, dst long")
    s = spark.createDataFrame([(0,)], "v long")
    got = {r["vertex"]: r["hops"]
           for r in bfs_hops(e, s, directed=True, max_hops=10).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    # reverse direction unreachable when directed
    s4 = spark.createDataFrame([(4,)], "v long")
    got4 = {r["vertex"]: r["hops"]
            for r in bfs_hops(e, s4, directed=True, max_hops=10).collect()}
    assert got4 == {4: 0}
    # truncation at max_hops
    t = {r["vertex"]: r["hops"]
         for r in bfs_hops(e, s, directed=True, max_hops=2).collect()}
    assert t == {0: 0, 1: 1, 2: 2}


def test_paragraph_dedup_literal_metachar_sep(spark):
    """sep is a LITERAL: '.' must split on dots only (regex '.' would
    split on every char, then rejoin with literal dots -> corruption)."""
    from gfp_gdal_spark.operators.curation import paragraph_dedup

    df = spark.createDataFrame(
        [(0, "alpha beta.gamma.alpha beta"), (1, "gamma.delta")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(df, sep=".").collect()}
    # doc 0: 'alpha beta' wins at pos 0, dup at pos 2 dropped; 'gamma'
    # wins at pos 1. doc 1: 'gamma' already seen in doc 0 -> dropped.
    assert out[0]["text"] == "alpha beta.gamma"
    assert out[0]["n_paras"] == 3 and out[0]["n_dropped"] == 1
    assert out[1]["text"] == "delta"
    assert out[1]["n_paras"] == 2 and out[1]["n_dropped"] == 1


def test_lr_quality_score_empty_doc_row(spark):
    """Zero-token documents must surface with n_tokens=0 / logit=bias,
    not silently vanish from the output."""
    from gfp_gdal_spark.operators.curation import lr_quality_score

    docs = spark.createDataFrame(
        [(0, "good spark"), (1, ""), (2, "   ")], "doc_id long, text string"
    )
    w = spark.createDataFrame([("good", 0.5)], "token string, weight double")
    out = {r["doc_id"]: r for r in lr_quality_score(docs, w, bias=0.25).collect()}
    assert set(out) == {0, 1, 2}
    for d in (1, 2):
        assert out[d]["n_tokens"] == 0 and out[d]["n_matched"] == 0
        assert out[d]["logit"] == 0.25


def test_color_relief_null_z_is_null(spark):
    """NULL elevation (nodata) must map to NULL color, not the
    top-of-ramp clamp."""
    from gfp_gdal_spark.operators.map_algebra import color_relief

    grid = spark.createDataFrame(
        [(0, 0, 0, None), (0, 0, 1, 500.0)],
        "image_id long, r int, c int, z double",
    )
    ramp = [(0.0, 0, 0, 0), (1000.0, 255, 255, 255)]
    out = {r["c"]: r for r in color_relief(grid, ramp).collect()}
    assert out[0]["relief_r"] is None
    assert out[1]["relief_r"] == 128


def test_downsample_tiles_even_negative_coords_fail_loud(spark):
    """EVEN negative x gives quadrant 0 (Spark % keeps sign), so the
    quadrant-only guard missed it — the parent-coordinate sign check
    must catch every negative input."""
    from gfp_gdal_spark.kernels.codec import encode_image
    from gfp_gdal_spark.operators.raster import downsample_tiles

    p = np.zeros((4, 4, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(5, -2, 2, 4, 4, bytearray(encode_image(p, "ppm")), "ppm")],
        "tile_z int, tile_x long, tile_y long, w int, h int, bytes binary, fmt string",
    )
    with pytest.raises(Exception, match="non-negative"):
        downsample_tiles(df).collect()


def test_idw_grid_radius_overflow_guard_and_double_path(spark):
    """radius_px=8 needs 55-bit exact weights — the int64 contract must
    fail loud; exact=False runs the double-weight path and agrees with
    a scalar reference."""
    from gfp_gdal_spark.operators.map_algebra import idw_grid

    df = spark.createDataFrame(
        [(0.5, 0.5, 10), (2.5, 0.5, 30)], "lon double, lat double, val int"
    )
    with pytest.raises(ValueError, match="exact=False"):
        idw_grid(df, (0, 0, 4, 1), 4, 1, "val", radius_px=8)
    got = {
        r["px_c"]: r
        for r in idw_grid(
            df, (0, 0, 4, 1), 4, 1, "val", radius_px=8, exact=False
        ).collect()
    }
    # node col=1: d2=1 to the col-0 point, d2=... to col-2? both points
    # snap to cols 0 and 2; node 1 sees w=1/1 and 1/1 -> mean 20
    assert got[1]["idw"] == pytest.approx((10 / 1 + 30 / 1) / (1 + 1))
    # exact hits at the point nodes
    assert got[0]["idw"] == pytest.approx(10.0)
    assert got[2]["idw"] == pytest.approx(30.0)


def test_mosaic_composite_nodata_range_fail_loud(spark):
    from gfp_gdal_spark.operators.raster import mosaic_composite

    df = spark.createDataFrame(
        [], "tile_x long, tile_y long, p int, image_id string, "
            "w int, h int, bytes binary, fmt string"
    )
    with pytest.raises(ValueError, match="uint8"):
        mosaic_composite(df, "p", nodata=256)


def test_label_regions_all_nodata_group(spark):
    """A (fmt,w,h) group whose every region is nodata must be skipped,
    not yield a null-typed image_id array (Arrow schema mismatch)."""
    from gfp_gdal_spark.operators.vectorize import label_regions

    a = np.zeros((2, 3), int)  # single region, value 0 -> dropped
    out = label_regions(_img_df(spark, [a]), nodata=0).collect()
    assert out == []


def test_distinct_profile_shapes(spark):
    from gfp_gdal_spark.operators.profiling import distinct_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b")], "k long, s string"
    )
    got = {r["column"]: r["n_distinct"] for r in
           distinct_profile(df, ["k", "s"]).collect()}
    assert got == {"k": 2, "s": 2}
    approx = {r["column"]: r["n_distinct"] for r in
              distinct_profile(df, ["k", "s"], exact=False).collect()}
    assert set(approx) == {"k", "s"}
    with pytest.raises(ValueError, match="non-empty"):
        distinct_profile(df, [])


def test_pack_chunks_nonidentifier_column(spark):
    """The tokens column must survive non-identifier names (no raw
    interpolation into the expr string)."""
    from gfp_gdal_spark.operators.sampling import pack_chunks

    df = spark.createDataFrame([(1, 600), (2, 600)], "doc_id long, `n-toks` long")
    out = pack_chunks(df, id_col="doc_id", tokens="n-toks", budget=1000).collect()
    assert len(out) == 2
    assert sum(r["n_chunks"] for r in out) >= 2


def test_repetition_stats_literal_sep(spark):
    """line_sep='.' must split on literal dots, not every character."""
    from gfp_gdal_spark.operators.curation import repetition_stats

    df = spark.createDataFrame(
        [(0, "abc.abc.xyz")], "doc_id long, text string"
    )
    r = repetition_stats(df, line_sep=".", ngram_ns=[2]).collect()[0]
    assert r["n_lines"] == 3
    # 'abc' appears twice (6 chars of 9) -> dup fraction 6/9
    assert r["dup_line_frac"] == pytest.approx(6 / 9)


def _tile_df(spark, tiles):
    """tiles: list of (tx, ty, 2d-int-array) -> images DF with tile coords."""
    from gfp_gdal_spark.kernels.codec import encode_image

    rows = []
    for tx, ty, a in tiles:
        h, w = a.shape
        blob = bytearray(encode_image(a.astype(np.uint8), "pgm"))
        rows.append((f"t{tx}_{ty}", blob, "pgm", w, h, tx, ty))
    return spark.createDataFrame(
        rows,
        "image_id string, bytes binary, fmt string, w int, h int, "
        "tile_x int, tile_y int",
    )


def test_stitch_regions_bruteforce(spark):
    """Random global grids cut into tiles: stitched components must
    induce the SAME partition of pixels as labeling the whole grid
    directly (up to relabeling)."""
    from gfp_gdal_spark.operators.vectorize import (
        _label_group,
        stitch_regions,
    )

    rng = np.random.RandomState(7)
    for trial in range(4):
        th, tw = rng.randint(2, 5), rng.randint(2, 5)   # tile dims
        gy, gx = rng.randint(2, 4), rng.randint(2, 4)   # tile grid
        G = rng.randint(0, 3, size=(th * gy, tw * gx))
        tiles = [
            (tx, ty, G[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw])
            for ty in range(gy)
            for tx in range(gx)
        ]
        out = stitch_regions(_tile_df(spark, tiles)).collect()
        # global truth: label the whole grid at once
        glab = _label_group(G[None, ...], 4)[0]
        # map each stitched component to the set of global pixels it covers
        got_parts: dict = {}
        for r in out:
            tx, ty = (int(x) for x in r["image_id"][1:].split("_"))
            # recover the tile's pixels of this region from per-tile lab
            tl = _label_group(
                G[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw][None, ...], 4
            )[0]
            px = {
                (ty * th + rr, tx * tw + cc)
                for rr in range(th)
                for cc in range(tw)
                if tl[rr, cc] == r["region"]
            }
            got_parts.setdefault(r["component"], set()).update(px)
        want_parts: dict = {}
        for rr in range(th * gy):
            for cc in range(tw * gx):
                want_parts.setdefault(glab[rr, cc], set()).add((rr, cc))
        assert sorted(got_parts.values(), key=sorted) == sorted(
            want_parts.values(), key=sorted
        ), f"trial {trial}: partition mismatch"


def test_stitch_regions_guards(spark):
    from gfp_gdal_spark.operators.vectorize import stitch_regions

    df = _tile_df(spark, [(0, 0, np.zeros((2, 2), int))])
    with pytest.raises(ValueError, match="connectivity=4"):
        stitch_regions(df, connectivity=8)
    bad = _tile_df(spark, [(1 << 21, 0, np.zeros((2, 2), int))])
    with pytest.raises(ValueError, match="tile coords"):
        stitch_regions(bad)


def test_asof_join_nearest_matches_naive(spark):
    """direction='nearest' vs a brute-force scan: closer of prior/
    following right row, ties to the PRIOR (pandas merge_asof rule)."""
    from gfp_gdal_spark.operators.temporal import asof_join

    rng = np.random.RandomState(23)
    lrows, rrows = [], []
    for i in range(300):
        lrows.append((i, int(rng.randint(0, 4)), float(rng.randint(0, 100))))
    for j in range(150):
        rrows.append((int(rng.randint(0, 4)), float(rng.randint(0, 100)), float(j)))
    l = spark.createDataFrame(lrows, "lid long, k long, ts double")
    r = spark.createDataFrame(rrows, "k long, ts double, quote double")
    got = {
        row["lid"]: row["quote"]
        for row in asof_join(l, r, on="ts", by="k", direction="nearest").collect()
    }
    # naive reference: min |dt|, tie -> smaller r.ts; among equal
    # (k, ts) right rows the carry keeps the LAST in window order, so
    # compare on the chosen timestamp's candidate set
    import collections as _c

    rk = _c.defaultdict(list)
    for k, ts, q in rrows:
        rk[k].append((ts, q))
    for lid, k, ts in lrows:
        cands = rk.get(k)
        if not cands:
            assert got[lid] is None
            continue
        best_ts = min((t for t, _ in cands), key=lambda t: (abs(ts - t), t))
        # engine picks a deterministic row among duplicates of best_ts;
        # assert the VALUE set membership + distance optimality
        assert any(
            t == best_ts and got[lid] == q for t, q in cands
        ) or got[lid] in {q for t, q in cands if t == best_ts}
        assert abs(best_ts - ts) == min(abs(ts - t) for t, _ in cands)


def test_asof_join_nearest_guards(spark):
    from gfp_gdal_spark.operators.temporal import asof_join

    l = spark.createDataFrame([(0, 1.0)], "k long, ts double")
    r = spark.createDataFrame([(0, 1.0, 2.0)], "k long, ts double, v double")
    with pytest.raises(ValueError, match="bucket_width"):
        asof_join(l, r, on="ts", by="k", direction="nearest", bucket_width=5.0)
    with pytest.raises(ValueError, match="direction must be"):
        asof_join(l, r, on="ts", by="k", direction="sideways")


def test_stitch_regions_mixed_dims_fail_loud(spark):
    from gfp_gdal_spark.operators.vectorize import stitch_regions

    df = _tile_df(
        spark, [(0, 0, np.zeros((2, 2), int)), (1, 0, np.zeros((4, 4), int))]
    )
    with pytest.raises(ValueError, match="uniform tile dimensions"):
        stitch_regions(df)


def test_lr_quality_score_null_and_duplicate_ids(spark):
    """NULL ids keep their true counts (null-safe join) and duplicate
    ids still emit one row (distinct id universe)."""
    from gfp_gdal_spark.operators.curation import lr_quality_score

    docs = spark.createDataFrame(
        [(None, "good good"), (1, "bad"), (1, "bad")],
        "doc_id long, text string",
    )
    w = spark.createDataFrame([("good", 0.5)], "token string, weight double")
    out = lr_quality_score(docs, w, bias=0.0).collect()
    assert len(out) == 2
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[None]["n_tokens"] == 2 and by_id[None]["n_matched"] == 2
    assert by_id[None]["logit"] == 0.5
    assert by_id[1]["n_tokens"] == 2 and by_id[1]["n_matched"] == 0


def test_tile_rollup_stats_bruteforce(spark):
    from gfp_gdal_spark.operators.joins import tile_rollup_stats

    rng = np.random.RandomState(31)
    rows = [
        (6, int(rng.randint(0, 64)), int(rng.randint(0, 64)),
         int(rng.randint(0, 1000)), int(rng.randint(1, 5)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        rows, "tile_z int, tile_x long, tile_y long, v long, cnt long"
    )
    got = {
        (r["tile_z"], r["tile_x"], r["tile_y"]): r
        for r in tile_rollup_stats(df, 3, "v", weight_col="cnt").collect()
    }
    import collections as _c

    want = _c.defaultdict(lambda: [0, None, None, 0])
    for z, x, y, v, cnt in rows:
        for l in range(3, z + 1):
            k = (l, x >> (z - l), y >> (z - l))
            a = want[k]
            a[0] += cnt
            a[1] = v if a[1] is None else min(a[1], v)
            a[2] = v if a[2] is None else max(a[2], v)
            a[3] += v * cnt
    assert set(got) == set(want)
    for k, (n, mn, mx, s) in want.items():
        r = got[k]
        assert (r["n"], r["val_min"], r["val_max"], r["val_sum"]) == (n, mn, mx, s)
        assert r["val_mean"] == pytest.approx(s / n)
    # coarse rows below z_to are filtered, not wrapped
    df2 = spark.createDataFrame(
        [(2, 1, 1, 5, 1)], "tile_z int, tile_x long, tile_y long, v long, cnt long"
    )
    assert tile_rollup_stats(df2, 3, "v").count() == 0
