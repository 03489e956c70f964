"""Output checks: what the program reported for one iteration against the
generator's manifest. A non-empty result means the operation failed."""


def check_iteration(rec, manifest):
    if rec.get("error"):
        return ["threw " + rec["error"]]
    obs = rec.get("obs")
    if obs is None:
        return ["no observations"]
    bad = []

    def expect(what, got, want):
        if got != want:
            bad.append(f"{what}: got {got!r}, want {want!r}")

    expect("files listed", obs["files_listed"], manifest["files_listed"])
    expect("files valid", obs["files_valid"], manifest["files_valid"])
    expect("time column", obs["time_column"], manifest["time_column"])
    expect("rows", obs["rows"], manifest["rows"])
    expect("null timestamps", obs["null_ts"], 0)
    expect("null source_file", obs["null_source"], 0)
    cols = {c["name"]: c for c in obs["columns"]}
    expect("value columns", sorted(cols), sorted(manifest["value_columns"]))
    for name, cents, nulls in zip(manifest["value_columns"], manifest["sum_cents"], manifest["nulls"]):
        if name in cols:
            expect(f"sum of {name} in cents", cols[name]["sum_cents"], cents)
            expect(f"nulls in {name}", cols[name]["nulls"], nulls)
    expect("inferred frequency", obs["freq"], f"{manifest['freq_s']}s")
    expect("continuity points", obs["total_points"], manifest["rows"])
    expect("gaps", [list(g) for g in obs["gaps"]], manifest["gaps"])
    expect("resampled rows", obs["resample_rows"], manifest["grid_rows"])
    if rec.get("ordered") is not None:
        expect("time non-decreasing", rec["ordered"], True)
    return bad

