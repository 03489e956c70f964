"""Seeded multi-file CSV corpus generator with its own answer manifest.

The corpus imitates the reference layout: `;`-delimited files whose names
carry their time range (`E1 1A - Data - MM-DD-YYYY HH_MM_SS - MM-DD-YYYY
HH_MM_SS.csv`, spaces included), `dd/MM/yyyy HH:mm` timestamps, and prefixed
value headers whose last ` - ` segment is unique. All files together form ONE
series at one-minute spacing whose per-file ranges never overlap, so the
default lenient sequence validator accepts it. Holes are planted by leaving
files out.

The manifest holds the answers the loader must reproduce. It is computed
here, from the generator's own numbers, never by the program under test.
"""
import json
import os
import random
from datetime import datetime, timedelta, timezone

GENERATOR_VERSION = 1
FREQ_S = 60  # one row per minute
RESAMPLE_S = 300  # resample("5min")
TIME_HEADER = "E1 1A - Data - Time"
GARBAGE_TOKENS = ["n/a", "#VALUE!", "--", "err", "1.2.3"]
PROBE_ROWS = 10

# Sizes keep a warm iteration near 5 s on local[4], so that a run with its
# cold first iteration and set-ups fits its time budget; README.md relates
# them to the full-size shapes they stand for.
WORKLOADS = {
    # many small hourly files: metadata plane and per-file costs dominate
    "ingest_many_files": dict(
        files=100, rows_per_file=60, value_cols=6, holes=3,
        reorder_share=0.10, iso_share=0.0, garbage_cells=0),
    # few large files: the data plane dominates
    "ingest_large_files": dict(
        files=3, rows_per_file=5000, value_cols=16, holes=1,
        reorder_share=0.0, iso_share=0.05, garbage_cells=30),
}

# the same shapes, small: each set-up runs the pipeline once on these, a
# cheap warm-up of the same code paths
WARMUP = {
    "ingest_many_files": dict(WORKLOADS["ingest_many_files"], files=24, holes=2),
    "ingest_large_files": dict(WORKLOADS["ingest_large_files"], files=2, rows_per_file=1000,
                               garbage_cells=6),
}


def value_header(k):
    return f"E1 1A - Probe {k:02d} - Channel {k:02d}"


def clean_name(h):
    return h.split(" - ")[-1].strip()


def stamp_name(t):
    return t.strftime("%m-%d-%Y %H_%M_%S")


def epoch_s(t):
    return int(t.replace(tzinfo=timezone.utc).timestamp())


def pick_holes(rng, slots, holes):
    """Interior, pairwise non-adjacent slots, so every hole is one gap."""
    chosen = set()
    candidates = list(range(1, slots - 1))
    rng.shuffle(candidates)
    for s in candidates:
        if len(chosen) == holes:
            break
        if s - 1 not in chosen and s + 1 not in chosen:
            chosen.add(s)
    if len(chosen) != holes:
        raise ValueError("too many holes for the number of files")
    return sorted(chosen)


def generate(out_dir, spec, seed):
    """Writes the corpus into out_dir/files and returns the manifest."""
    rng = random.Random(seed)
    files_dir = os.path.join(out_dir, "files")
    os.makedirs(files_dir, exist_ok=True)

    n_files, per_file, n_vals = spec["files"], spec["rows_per_file"], spec["value_cols"]
    slots = n_files + spec["holes"]
    holes = pick_holes(rng, slots, spec["holes"])
    start = datetime(2023, 1, 1) + timedelta(days=seed % 97)

    headers = [TIME_HEADER] + [value_header(k) for k in range(1, n_vals + 1)]
    # alternative column orders a share of the files is written with; a
    # reordered file keeps the same column set, so pandas-style by-name
    # alignment must put every value back under its own header
    orders = [list(range(len(headers)))]
    orders.append(list(range(len(headers)))[::-1])
    mid = list(range(1, len(headers)))
    rng.shuffle(mid)
    orders.append(mid[: len(mid) // 2] + [0] + mid[len(mid) // 2:])

    present = [s for s in range(slots) if s not in holes]
    n_reordered = round(spec["reorder_share"] * n_files)
    reordered = set(rng.sample(range(n_files), n_reordered))

    total_rows = n_files * per_file
    # garbage stays out of each file's first PROBE_ROWS data lines: the loader
    # types columns from those lines and, like the reference, rejects a file
    # whose head disagrees with file #1 ("Data type mismatch")
    garbage = set()
    while len(garbage) < spec["garbage_cells"]:
        r = rng.randrange(total_rows)
        if r % per_file >= PROBE_ROWS:
            garbage.add((r, rng.randrange(n_vals)))

    sums = [0] * n_vals
    nulls = [0] * n_vals
    iso_rows = 0
    row_id = 0
    for fi, slot in enumerate(present):
        t0 = start + timedelta(minutes=slot * per_file)
        t_end = t0 + timedelta(minutes=per_file) - timedelta(seconds=1)
        name = f"E1 1A - Data - {stamp_name(t0)} - {stamp_name(t_end)}.csv"
        order = orders[1 + fi % 2] if fi in reordered else orders[0]
        lines = [";".join(headers[c] for c in order)]
        for r in range(per_file):
            t = t0 + timedelta(minutes=r)
            if spec["iso_share"] and rng.random() < spec["iso_share"]:
                cells = [t.strftime("%Y-%m-%d %H:%M:%S")]
                iso_rows += 1
            else:
                cells = [t.strftime("%d/%m/%Y %H:%M")]
            for k in range(n_vals):
                if (row_id, k) in garbage:
                    cells.append(rng.choice(GARBAGE_TOKENS))
                    nulls[k] += 1
                else:
                    cents = rng.randint(-99999, 99999)
                    sums[k] += cents
                    sign = "-" if cents < 0 else ""
                    cells.append(f"{sign}{abs(cents) // 100}.{abs(cents) % 100:02d}")
            lines.append(";".join(cells[c] for c in order))
            row_id += 1
        with open(os.path.join(files_dir, name), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

    # decoys: discovery lists both, the file filter must reject both
    first_hole = start + timedelta(minutes=holes[0] * per_file)
    hole_end = first_hole + timedelta(minutes=per_file) - timedelta(seconds=1)
    open(os.path.join(files_dir,
         f"E1 1A - Data - {stamp_name(first_hole)} - {stamp_name(hole_end)}.csv"), "w").close()
    with open(os.path.join(files_dir, "notes.csv"), "w") as f:
        f.write("exported by hand;do not load\n")

    def slot_first(s):
        return start + timedelta(minutes=s * per_file)

    gaps = []
    for h in holes:
        g_start = slot_first(h) - timedelta(minutes=1)  # last row of slot h-1
        g_end = slot_first(h + 1)  # first row of slot h+1
        diff = epoch_s(g_end) - epoch_s(g_start)
        gaps.append([epoch_s(g_start), epoch_s(g_end), diff // FREQ_S - 1])

    t_min = slot_first(0)
    t_max = slot_first(slots) - timedelta(minutes=1)
    span = epoch_s(t_max) - epoch_s(t_min)
    return {
        "generator_version": GENERATOR_VERSION,
        "seed": seed,
        "spec": spec,
        "files_listed": n_files + 2,
        "files_valid": n_files,
        "rows": total_rows,
        "iso_rows": iso_rows,
        "reordered_files": n_reordered,
        "time_column": clean_name(TIME_HEADER),
        "value_columns": [clean_name(value_header(k)) for k in range(1, n_vals + 1)],
        "sum_cents": sums,
        "nulls": nulls,
        "min_ts": epoch_s(t_min),
        "max_ts": epoch_s(t_max),
        "freq_s": FREQ_S,
        "gaps": gaps,
        "resample_s": RESAMPLE_S,
        "grid_rows": span // RESAMPLE_S + 1,
    }


def write(out_dir, spec, seed):
    manifest = generate(out_dir, spec, seed)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
