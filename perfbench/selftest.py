#!/usr/bin/env python3
"""Self-test of the benchmark itself, on small corpora.

    python3 perfbench/selftest.py [--seed N] [--program]

1. The generator's manifest must agree with an independent DuckDB
   `read_csv` of the generated files.
2. The checks must pass a correct result and fail every deliberately
   corrupted one.
3. With --program, the same for the program's real output: perfbench.Main runs
   on the small corpus, its output must pass, and corrupted copies of it must
   fail.

Prints one line per check and exits non-zero on the first disagreement.
"""
import argparse
import copy
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# the reference filename pattern (TimeMetadataExtractor.DefaultPattern)
NAME = re.compile(r".*?(\d{2}-\d{2}-\d{4}\s+\d{2}_\d{2}_\d{2})\s+-\s+(\d{2}-\d{2}-\d{4}\s+\d{2}_\d{2}_\d{2})\.csv")


def ok(what, cond, detail=""):
    print(("ok    " if cond else "FAIL  ") + what + (f" ({detail})" if detail and not cond else ""))
    if not cond:
        sys.exit(1)


def duckdb_answers(files_dir, manifest):
    """The manifest's quantities, recomputed from the files by DuckDB."""
    import duckdb
    listed = [f for f in sorted(os.listdir(files_dir)) if f.endswith(".csv")]
    valid = [f for f in listed
             if NAME.fullmatch(f) and os.path.getsize(os.path.join(files_dir, f)) > 0]
    con = duckdb.connect()
    paths = [os.path.join(files_dir, f).replace("'", "''") for f in valid]
    con.execute("create table raw as select * from read_csv([" + ",".join(f"'{p}'" for p in paths) +
                "], delim=';', header=true, all_varchar=true, union_by_name=true)")
    cols = [r[0] for r in con.execute("describe raw").fetchall()]
    time_col = next(c for c in cols if "time" in c.lower())
    value_cols = [c for c in cols if c != time_col]

    def q(c):
        return '"' + c.replace('"', '""') + '"'

    con.execute(f"""create table t as select coalesce(
        try_strptime(trim({q(time_col)}), '%d/%m/%Y %H:%M'),
        try_strptime(trim({q(time_col)}), '%Y-%m-%d %H:%M:%S')) as ts, * exclude ({q(time_col)}) from raw""")
    rows, null_ts, t_min, t_max = con.execute(
        "select count(*), count(*) - count(ts), epoch(min(ts))::bigint, epoch(max(ts))::bigint from t").fetchone()
    sums = {}
    for c in value_cols:
        s, z = con.execute(f"select coalesce(sum(round(try_cast({q(c)} as double) * 100)::bigint), 0), "
                           f"count(*) - count(try_cast({q(c)} as double)) from t").fetchone()
        sums[gen.clean_name(c)] = (int(s), int(z))
    freq = con.execute("select median(d) from (select epoch(ts) - epoch(lag(ts) over (order by ts)) d from t)"
                       ).fetchone()[0]
    gaps = [list(map(int, g)) for g in con.execute(f"""
        select epoch(p)::bigint, epoch(ts)::bigint, (epoch(ts) - epoch(p))::bigint // {int(freq)} - 1 from
        (select ts, lag(ts) over (order by ts) p from t) where epoch(ts) - epoch(p) > 2 * {int(freq)}
        order by 1""").fetchall()]
    return {
        "files_listed": len(listed),
        "files_valid": len(valid),
        "time_column": gen.clean_name(time_col),
        "rows": rows,
        "null_ts": null_ts,
        "columns": sums,
        "min_ts": t_min,
        "max_ts": t_max,
        "freq_s": int(freq),
        "gaps": gaps,
        "grid_rows": (t_max - t_min) // manifest["resample_s"] + 1,
    }


def perfect_record(manifest):
    """The record a correct program reports for this manifest."""
    return {
        "obs": {
            "files_listed": manifest["files_listed"],
            "files_valid": manifest["files_valid"],
            "time_column": manifest["time_column"],
            "rows": manifest["rows"],
            "null_ts": 0,
            "null_source": 0,
            "columns": [{"name": n, "sum_cents": s, "nulls": z} for n, s, z in
                        zip(manifest["value_columns"], manifest["sum_cents"], manifest["nulls"])],
            "freq": f"{manifest['freq_s']}s",
            "total_points": manifest["rows"],
            "gaps": [list(g) for g in manifest["gaps"]],
            "resample_rows": manifest["grid_rows"],
        },
        "ordered": True,
    }


def corruptions(rec):
    """(what, corrupted copy of rec) pairs; each must fail the checks."""
    def edit(fn):
        r = copy.deepcopy(rec)
        fn(r)
        return r
    yield "one row lost", edit(lambda r: r["obs"].update(rows=r["obs"]["rows"] - 1))
    yield "a value off by one cent", edit(lambda r: r["obs"]["columns"][0].update(
        sum_cents=r["obs"]["columns"][0]["sum_cents"] + 1))
    yield "a garbage cell parsed", edit(lambda r: r["obs"]["columns"][-1].update(
        nulls=r["obs"]["columns"][-1]["nulls"] + 1))
    yield "a null timestamp", edit(lambda r: r["obs"].update(null_ts=1))
    yield "a row without source_file", edit(lambda r: r["obs"].update(null_source=1))
    yield "a planted hole missed", edit(lambda r: r["obs"].update(gaps=r["obs"]["gaps"][1:]))
    yield "a gap shifted", edit(lambda r: r["obs"]["gaps"][0].__setitem__(0, r["obs"]["gaps"][0][0] - 60))
    yield "resample grid short", edit(lambda r: r["obs"].update(resample_rows=r["obs"]["resample_rows"] - 1))
    yield "time out of order", edit(lambda r: r.update(ordered=False))
    yield "a decoy accepted", edit(lambda r: r["obs"].update(files_valid=r["obs"]["files_valid"] + 1))
    yield "columns renamed", edit(lambda r: r["obs"]["columns"][0].update(name="Probe 01"))
    yield "the operation threw", edit(lambda r: r.update(error="java.lang.RuntimeException: boom"))


def main():
    ap = argparse.ArgumentParser(description="benchmark self-test")
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--program", action="store_true", help="also check the program's real output")
    args = ap.parse_args()

    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for name, spec in gen.WARMUP.items():
            out = os.path.join(work, name)
            m = gen.write(out, spec, args.seed)
            d = duckdb_answers(os.path.join(out, "files"), m)
            for key in ("files_listed", "files_valid", "time_column", "rows", "min_ts", "max_ts",
                        "freq_s", "gaps", "grid_rows"):
                ok(f"{name}: manifest {key} matches DuckDB", d[key] == m[key], f"{d[key]!r} vs {m[key]!r}")
            ok(f"{name}: DuckDB parses every timestamp", d["null_ts"] == 0)
            want = {c: (s, z) for c, s, z in zip(m["value_columns"], m["sum_cents"], m["nulls"])}
            ok(f"{name}: manifest sums and null counts match DuckDB", d["columns"] == want,
               f"{d['columns']} vs {want}")

            perfect = perfect_record(m)
            ok(f"{name}: a correct result passes", checks.check_iteration(perfect, m) == [])
            for what, bad in corruptions(perfect):
                ok(f"{name}: corrupted ({what}) fails", checks.check_iteration(bad, m) != [])

            if args.program:
                import run
                run.build(os.getcwd(), os.path.join(HERE, ".work"))
                files = os.path.join(out, "files")
                raw = run.run_bench(files, files, os.path.join(out, "raw.json"), 0, 1,
                                     os.path.join(HERE, ".work"), None, setups=1)
                real = raw["first"]
                ok(f"{name}: the program's output passes", checks.check_iteration(real, m) == [],
                   "; ".join(checks.check_iteration(real, m)))
                for what, bad in corruptions(real):
                    ok(f"{name}: the program's output, corrupted ({what}), fails",
                       checks.check_iteration(bad, m) != [])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
