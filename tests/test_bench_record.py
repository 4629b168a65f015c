"""The archived bench record must survive the driver's stdout capture.

The driver archives the LAST 2000 characters of bench.py's stdout and
attempts a JSON parse; the r7 and r8 records were both cut mid-tail and
permanently lost ~15 per-query rows each. Since r10 the emitted line is
O(1) in registry size: the full per-query map lives in the BENCH_DETAIL
sidecar, bound to the line by sha256. The r9 short-key map (BENCH_KEYS.json)
is kept frozen for expanding the r9-and-earlier archives and must not
drift from the code that generates it.

No Spark session: bench.py is imported for its static tables only.
"""

from __future__ import annotations

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALL_ROWS = bench.HEADLINE + bench.EXTRA_ROWS


def test_short_map_is_bijective_and_total():
    m = bench.build_short_map(ALL_ROWS)
    assert len(m) == len(ALL_ROWS)  # no short key swallowed another row
    assert sorted(m.values()) == sorted(ALL_ROWS)
    assert len(set(ALL_ROWS)) == len(ALL_ROWS)  # and no duplicate full name


def test_archived_line_fits_driver_tail_capture(tmp_path):
    """The emitted line must be O(1) in registry size: even with every
    registry row present at worst-case value widths, the line stays far
    under the 2000-char tail, and its length does not grow when the
    registry doubles. The full map lands in the sidecar, bound to the line
    by sha256."""
    import hashlib

    timings = {name: 9999.999 for name in ALL_ROWS}
    line = bench.emit_record(timings, "0.1", detail_dir=str(tmp_path))
    assert len(line) < 600, len(line)
    # emulate the driver: keep only the last 2000 chars, then parse
    parsed = json.loads(line[-2000:])
    assert parsed["n_queries"] == len(ALL_ROWS)
    assert set(parsed["queries"]) <= set(bench.INLINE_ROWS)
    # the sidecar carries every row under its FULL name, and the sha256 in
    # the archived line matches the file bytes
    detail_path = tmp_path / bench.DETAIL_NAME
    payload = detail_path.read_bytes()
    assert hashlib.sha256(payload).hexdigest() == parsed["detail_sha256"]
    detail = json.loads(payload)
    assert detail["queries"] == timings
    assert detail["value"] == parsed["value"]
    # O(1): doubling the registry must not grow the line beyond float-width
    # jitter in the totals
    doubled = dict(timings, **{f"{n}_twin": 9999.999 for n in ALL_ROWS})
    line2 = bench.emit_record(doubled, "0.1", detail_dir=str(tmp_path))
    assert abs(len(line2) - len(line)) <= 4, (len(line), len(line2))


def test_bench_keys_file_matches_code():
    with open(os.path.join(REPO, "BENCH_KEYS.json")) as f:
        on_disk = json.load(f)
    assert on_disk == bench.build_short_map(ALL_ROWS), (
        "BENCH_KEYS.json drifted — rerun tools/gen_bench_keys.py"
    )


def test_extra_rows_match_split_helpers():
    """EXTRA_ROWS must list exactly the timing keys the time_* split
    helpers write, or the short map misses rows at runtime."""
    import inspect

    src = "".join(
        inspect.getsource(fn)
        for fn in (
            bench.time_ivf_split,
            bench.time_pq_split,
            bench.time_ann_split,
            bench.time_prepare_corpus_split,
            bench.time_incremental_split,
            bench.time_cc_split,
        )
    )
    for row in bench.EXTRA_ROWS:
        assert f'"{row}"' in src, row


def test_canary_fields_and_warning(tmp_path):
    """The load-canary schema in the sidecar (loadavg start/end, flagship
    retime, solo reference) and the warning rule: a retime beyond
    CANARY_WARN_RATIO x the committed solo reference marks the archived
    line itself, so a loaded capture (the r10 driver run) is detectable
    from the record with no external context."""
    timings = {"flagship_user_netflow": 0.3}
    quiet = {
        "loadavg_start": [1.0, 1.0, 1.0],
        "loadavg_end": [2.0, 2.0, 2.0],
        "flagship_retime": 0.31,
        "cpus": 32,  # the core count the loadavg values are calibrated on
    }
    line = bench.emit_record(timings, "0.1", detail_dir=str(tmp_path), canary=quiet)
    parsed = json.loads(line)
    assert "canary_warning" not in parsed
    detail = json.loads((tmp_path / bench.DETAIL_NAME).read_bytes())
    c = detail["canary"]
    assert c["loadavg_start"] == [1.0, 1.0, 1.0]
    assert c["loadavg_end"] == [2.0, 2.0, 2.0]
    assert c["flagship_retime"] == 0.31
    assert c["flagship_solo_ref"] == bench.CANARY_SOLO_REF["0.1"]
    assert "canary_warning" not in detail

    loaded = dict(quiet, flagship_retime=round(
        bench.CANARY_WARN_RATIO * bench.CANARY_SOLO_REF["0.1"] + 0.05, 3))
    line = bench.emit_record(timings, "0.1", detail_dir=str(tmp_path), canary=loaded)
    parsed = json.loads(line)
    assert "load canary" in parsed["canary_warning"]
    detail = json.loads((tmp_path / bench.DETAIL_NAME).read_bytes())
    assert detail["canary_warning"] == parsed["canary_warning"]
    # record stays parseable from the driver's 2000-char tail with the warning
    assert len(line) < 2000 and json.loads(line[-2000:])

    # no solo reference for this sf (e.g. sf1 rehearsals): record, never warn
    line = bench.emit_record(timings, "1", detail_dir=str(tmp_path), canary=loaded)
    assert "canary_warning" not in json.loads(line)


def test_driver_detail_bytes_survive_next_bench_run(tmp_path):
    """The r10/r11 sequence, simulated: the driver's bench run leaves
    BENCH_DETAIL.json whose sha256 is bound by the archived BENCH_r{N}.json
    line; the builder's NEXT bench run used to clobber those bytes — the
    only copy of the graded per-query record. emit_record must now snapshot
    them to BENCH_DETAIL_driver_r{N}.json before overwriting, and must not
    re-snapshot when a per-round copy already holds the same bytes."""
    import hashlib

    # 1. the driver's run writes the sidecar and its archived line
    driver_timings = {"flagship_user_netflow": 0.32, "dedup_exact": 1.5}
    line = bench.emit_record(driver_timings, "0.1", detail_dir=str(tmp_path))
    driver_bytes = (tmp_path / bench.DETAIL_NAME).read_bytes()
    archived = {"n": 11, "rc": 0, "sf": 0.1, "tail": line, "parsed": json.loads(line)}
    (tmp_path / "BENCH_r11.json").write_text(json.dumps(archived))
    assert archived["parsed"]["detail_sha256"] == hashlib.sha256(driver_bytes).hexdigest()

    # 2. the builder's next run overwrites the sidecar — the guard must
    # have preserved the driver's bytes first
    bench.emit_record({"flagship_user_netflow": 0.30}, "0.1", detail_dir=str(tmp_path))
    snap = tmp_path / "BENCH_DETAIL_driver_r11.json"
    assert snap.exists(), "graded detail bytes were clobbered (the r10/r11 hazard)"
    assert snap.read_bytes() == driver_bytes
    assert (tmp_path / bench.DETAIL_NAME).read_bytes() != driver_bytes

    # 3. idempotent: a further run with the snapshot in place must not
    # overwrite it (the snapshot now holds the graded bytes, the live
    # sidecar holds unarchived ones)
    before = snap.read_bytes()
    bench.emit_record({"flagship_user_netflow": 0.29}, "0.1", detail_dir=str(tmp_path))
    assert snap.read_bytes() == before

    # 4. a pre-existing BENCH_DETAIL_r{N}.json with the same bytes also
    # counts as preserved — no duplicate driver_ copy
    line2 = bench.emit_record({"flagship_user_netflow": 0.28}, "0.1", detail_dir=str(tmp_path))
    (tmp_path / "BENCH_r12.json").write_text(
        json.dumps({"n": 12, "parsed": json.loads(line2)}))
    committed = (tmp_path / bench.DETAIL_NAME).read_bytes()
    (tmp_path / "BENCH_DETAIL_r12.json").write_bytes(committed)
    bench.emit_record({"flagship_user_netflow": 0.27}, "0.1", detail_dir=str(tmp_path))
    assert not (tmp_path / "BENCH_DETAIL_driver_r12.json").exists()

    # 5. malformed archive files must not abort the guard or the run
    (tmp_path / "BENCH_r13.json").write_text("{not json")
    bench.emit_record({"flagship_user_netflow": 0.26}, "0.1", detail_dir=str(tmp_path))


def test_malformed_sf_label_cannot_lose_the_record(tmp_path):
    """A malformed sf label ('1.2.3', '1..2') must fall back to the raw
    string instead of raising after every query already ran."""
    timings = {"flagship_user_netflow": 0.3}
    for bad in ("1.2.3", "1..2", "xyz"):
        line = bench.emit_record(timings, bad, detail_dir=str(tmp_path))
        assert json.loads(line)["sf"] == bad


def test_canary_fires_on_the_r12_driver_capture_scenario(tmp_path):
    """The r12 blind spot, pinned: the driver's loaded capture (loadavg_end
    14.65, classify_nb_lang 1.39 s, flagship retime 0.289 s — all real
    values from BENCH_DETAIL_driver_r12.json) archived a QUIET line because
    only the scan-bound flagship was thresholded. The same canary dict must
    now produce a warned line via BOTH new signals (CPU-bound retime and
    end-of-run loadavg), while the builder's clean solo run from the same
    round stays quiet."""
    timings = {"flagship_user_netflow": 0.34}
    r12_driver = {
        "loadavg_start": [3.706, 4.676, 5.091],
        "loadavg_end": [14.653, 8.759, 6.505],
        "flagship_retime": 0.289,
        "cpu_row": "classify_nb_lang",
        "cpu_retime": 1.393,
        "cpus": 32,
    }
    line = bench.emit_record(
        timings, "0.1", detail_dir=str(tmp_path), canary=r12_driver
    )
    parsed = json.loads(line)
    warning = parsed["canary_warning"]
    assert "classify_nb_lang" in warning and "loadavg" in warning
    # the flagship alone stays below its threshold — exactly the blind spot
    assert "flagship" not in warning
    detail = json.loads((tmp_path / bench.DETAIL_NAME).read_bytes())
    assert detail["canary"]["cpu_solo_ref"] == bench.CANARY_CPU_SOLO_REF["0.1"]
    assert detail["canary_warning"] == warning
    assert len(line) < 2000 and json.loads(line[-2000:])

    # the clean solo capture of the same round (BENCH_DETAIL_r12s2.json)
    r12_solo = {
        "loadavg_start": [2.056, 4.535, 5.363],
        "loadavg_end": [7.469, 6.055, 5.773],
        "flagship_retime": 0.18,
        "cpu_row": "classify_nb_lang",
        "cpu_retime": 0.75,
        "cpus": 32,
    }
    line = bench.emit_record(
        timings, "0.1", detail_dir=str(tmp_path), canary=r12_solo
    )
    assert "canary_warning" not in json.loads(line)

    # uncalibrated sf (10x rehearsals legitimately end above the sf0.1
    # loadavg band because the bench's own tail keeps every core busy):
    # all three signals record, none warns — same contract as the refs
    line = bench.emit_record(
        timings, "1", detail_dir=str(tmp_path), canary=r12_driver
    )
    assert "canary_warning" not in json.loads(line)


def test_canary_fires_on_the_r13_mid_run_load_shape(tmp_path):
    """The r13 blind spot, pinned: load that rises MID-run and subsides
    before the end probes (the r13 driver capture ran rows 1.3-2.1x the
    solo sidecars while cpu_retime 1.39x < 1.5x and loadavg_end 8.5 < 12
    both read quiet). The max BETWEEN-query loadavg sample catches it:
    a canary with quiet end probes but a high mid-run max must warn via
    the new signal ONLY. Thresholds from the round-14 calibration pair:
    a genuinely loaded run (rows 1.22x solo) peaked 22.1; clean runs
    peaked 12.5/13.8/18.1 (the 18.1 from the FASTEST capture of the
    round, median 0.92x solo — self-load packs tighter on fast runs)
    -> 0.65/core x 32 = 20.8 splits the bands."""
    timings = {"flagship_user_netflow": 0.34}
    r13_shape = {
        "loadavg_start": [4.5, 4.0, 3.5],
        "loadavg_end": [8.5, 7.0, 6.0],          # quiet (< 12.0)
        "loadavg_max_between": 22.1,              # the mid-run spike
        "loadavg_max_row": "web_robots_filter",
        "flagship_retime": 0.29,                  # quiet
        "cpu_row": "classify_nb_lang",
        "cpu_retime": 1.11,                       # 1.39x ref < 1.5x: quiet
        "cpus": 32,
    }
    line = bench.emit_record(
        timings, "0.1", detail_dir=str(tmp_path), canary=r13_shape
    )
    warning = json.loads(line)["canary_warning"]
    assert "between-query loadavg 22.1" in warning
    assert "web_robots_filter" in warning
    # the OLD signals must all stay quiet — mid-run max is the only one
    assert "retime" not in warning and "run end" not in warning

    # the clean runs from the calibration set stay quiet on ALL
    # signals — INCLUDING the fastest capture's 18.1 peak (a threshold
    # that flags the engine's best run is miscalibrated)
    for clean_max in (13.772, 18.119):
        line = bench.emit_record(
            timings, "0.1", detail_dir=str(tmp_path),
            canary=dict(
                r13_shape,
                loadavg_max_between=clean_max,
                loadavg_end=[8.7, 8.5, 5.3],
                cpu_retime=0.872,
            ),
        )
        assert "canary_warning" not in json.loads(line), clean_max
    clean = dict(
        r13_shape,
        loadavg_max_between=13.772,
        loadavg_end=[8.7, 8.5, 5.3],
        cpu_retime=0.872,
    )
    line = bench.emit_record(
        timings, "0.1", detail_dir=str(tmp_path), canary=clean
    )
    assert "canary_warning" not in json.loads(line)

    # records without the field (pre-r14 shapes, uncalibrated sfs):
    # record-never-warn, same contract as the refs
    legacy = {k: v for k, v in clean.items() if k != "loadavg_max_between"}
    line = bench.emit_record(
        timings, "0.1", detail_dir=str(tmp_path), canary=legacy
    )
    assert "canary_warning" not in json.loads(line)
    line = bench.emit_record(
        timings, "1", detail_dir=str(tmp_path), canary=r13_shape
    )
    assert "canary_warning" not in json.loads(line)


def test_canary_sf1_calibration(tmp_path):
    """The sf1-rehearsal calibration (round 15, measured loaded/clean
    pair): at rehearsal scale the retimes are scan-bound/
    under-subscribed (a deliberate 10-busy-core external load read
    flagship 0.284 s and cpu 1.334 s — both inside the clean band) and
    the mid-run max is self-load-dominated (clean peaks 25.2/30.1 vs
    31.7 loaded), so loadavg AT END is the discriminating probe: clean
    legs end 10.2-16.5, the loaded leg ended 23.4, and 0.6/core = 19.2
    splits the bands. Pins: (a) the loaded shape warns via loadavg_end
    ONLY; (b) every clean observation stays quiet; (c) "1_rehearsal" is
    now calibrated — the record-never-warn contract moved to truly
    unknown sfs ("10")."""
    timings = {"flagship_user_netflow": 0.34}
    loaded = {
        "loadavg_start": [8.1, 11.0, 11.3],
        "loadavg_end": [23.4, 20.0, 16.0],        # the 10-core burn
        "loadavg_max_between": 31.704,             # < 33.6: quiet
        "loadavg_max_row": "multimodal_audio_resample_roundtrip",
        "flagship_retime": 0.284,                  # inside clean band
        "cpu_row": "classify_nb_lang",
        "cpu_retime": 1.334,                       # inside clean band
        "cpus": 32,
    }
    line = bench.emit_record(
        timings, "1_rehearsal", detail_dir=str(tmp_path), canary=loaded
    )
    warning = json.loads(line)["canary_warning"]
    assert "run end 23.4 > 19.2" in warning
    assert "retime" not in warning and "between-query" not in warning
    # refs are recorded into the detail for the sf
    detail = json.loads((tmp_path / bench.DETAIL_NAME).read_bytes())
    assert detail["canary"]["flagship_solo_ref"] == 0.33
    assert detail["canary"]["cpu_solo_ref"] == 1.5

    # every CLEAN sf1 observation from the calibration set stays quiet:
    # (end, max_between, flagship, cpu) from r13/r13b/r14/r15 legs
    clean_legs = [
        (12.76, None, 0.314, 1.489),
        (10.24, None, 0.269, 1.262),
        (16.46, 30.132, 0.339, 1.744),
        (12.83, 25.163, 0.350, 1.431),
    ]
    for end, mx, fl, cpu in clean_legs:
        canary = {
            "loadavg_start": [2.0, 2.0, 2.0],
            "loadavg_end": [end, end, end],
            "flagship_retime": fl,
            "cpu_row": "classify_nb_lang",
            "cpu_retime": cpu,
            "cpus": 32,
        }
        if mx is not None:
            canary["loadavg_max_between"] = mx
            canary["loadavg_max_row"] = "web_url_canonicalize"
        line = bench.emit_record(
            timings, "1_rehearsal", detail_dir=str(tmp_path), canary=canary
        )
        assert "canary_warning" not in json.loads(line), (end, mx, fl, cpu)

    # truly uncalibrated sf: record, never warn
    line = bench.emit_record(
        timings, "10", detail_dir=str(tmp_path), canary=loaded
    )
    assert "canary_warning" not in json.loads(line)


def test_drift_index_attributes_uniform_ambient_drift(tmp_path):
    """Round-16 pin: graded captures self-attribute uniform ambient drift.

    The r15 driver capture ran a uniform 1.42x per-row median over the
    committed solo references with every threshold probe quiet — the
    fourth such capture (r10/r12/r13/r15). With BENCH_SOLO_REF.json in
    the output dir, emit_record must record median/p10/p90 of
    row_time / blessed_solo_ref in the canary block; it must NEVER warn
    on it (attribution, not fault), must skip not-yet-blessed rows
    (counted), and must omit the block entirely when the sf has no
    blessed section."""
    blessed = {
        "0.1": {
            "blessed": "test fixture",
            "rows": {"row_a": 1.0, "row_b": 2.0, "row_c": 0.5},
        }
    }
    (tmp_path / bench.SOLO_REF_NAME).write_text(json.dumps(blessed))
    # uniform 1.42x over blessed rows + one new (unblessed) row
    timings = {"row_a": 1.42, "row_b": 2.84, "row_c": 0.71, "row_new": 9.0}
    quiet = {"loadavg_start": [1.0] * 3, "loadavg_end": [2.0] * 3,
             "flagship_retime": 0.31,
             "cpus": 32}  # the core count the loadavg values are calibrated on
    line = bench.emit_record(
        timings, "0.1", detail_dir=str(tmp_path), canary=quiet
    )
    assert "canary_warning" not in json.loads(line)  # attribution only
    detail = json.loads((tmp_path / bench.DETAIL_NAME).read_bytes())
    d = detail["canary"]["drift_index"]
    assert d["median"] == 1.42 and d["p10"] == 1.42 and d["p90"] == 1.42
    assert d["n_rows"] == 3 and d["n_unblessed"] == 1
    assert d["ref"] == bench.SOLO_REF_NAME and d["blessed"] == "test fixture"

    # non-uniform drift: percentiles separate (nearest-rank on 3 rows)
    skewed = {"row_a": 1.0, "row_b": 2.0, "row_c": 1.5}
    bench.emit_record(skewed, "0.1", detail_dir=str(tmp_path), canary=quiet)
    d = json.loads((tmp_path / bench.DETAIL_NAME).read_bytes())["canary"][
        "drift_index"
    ]
    assert d["p10"] == 1.0 and d["median"] == 1.0 and d["p90"] == 3.0

    # sf with no blessed section: no drift block, no crash
    bench.emit_record(timings, "7", detail_dir=str(tmp_path), canary=quiet)
    detail = json.loads((tmp_path / bench.DETAIL_NAME).read_bytes())
    assert "drift_index" not in detail["canary"]


def test_repo_solo_ref_blessed_and_current():
    """The committed BENCH_SOLO_REF.json must cover the sf0.1 headline
    set (a drift index computed over a stale row subset under-attributes)
    and carry a blessing label naming its provenance. Rows still awaiting
    their FIRST clean capture are tolerated, but only as a trailing
    suffix of the append-only HEADLINE — a previously-blessed row going
    missing (or a new row inserted mid-list) fails."""
    with open(os.path.join(REPO, bench.SOLO_REF_NAME)) as f:
        blessed = json.load(f)
    sec = blessed["0.1"]
    assert sec["blessed"]
    missing = [r for r in bench.HEADLINE if r not in sec["rows"]]
    assert missing == bench.HEADLINE[len(bench.HEADLINE) - len(missing):], (
        f"unblessed non-tail headline rows {missing} — re-bless with "
        "tools/gen_solo_ref.py from a clean capture"
    )
