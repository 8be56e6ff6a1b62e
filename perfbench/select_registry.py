#!/usr/bin/env python3
"""How `registry_sf01` chooses its queries, so that the choice reproduces.

    python3 perfbench/select_registry.py measure   # one traced pass over every query; writes the table
    python3 perfbench/select_registry.py           # applies the rule to the table; exit 1 if
                                                   # workloads.json lists other queries

The table, `perfbench/registry_selection.tsv`, has one row per
`SparkEntry.queries` key:

- `family`: the operators object its entry calls (`Graph.qRichClub _` → `Graph`);
- `memo`: 1 if the query reads a `SessionMemo` memo (see `memo_readers`);
- `warm_s`: latency of its second call in one session, untraced;
- `busy_frac`: listener task time ÷ (cores × latency) of its third call, traced;
- `build_share`: share of that latency spent in the `SparkEntry.queries` call.

The rule: in every operator family with at least `MIN_FAMILY` queries, the
query with the lowest `warm_s`. The cheapest query of a family is the one
whose latency is most nearly the per-query floor (construction, planning, job
launch), which is what the workload measures. Families under `MIN_FAMILY`
queries (Sketches, Recsys, Packing, Web, Layout: 20 queries of 424) are left
out so that a pass stays near 5 s and a whole run near one minute. Of the two families that keep `SessionMemo` memos, Graph is in: its
cheapest query, `q_kcore`, reads the edge memo, so its timed calls measure
reuse of earlier work (its first call builds the memo). Recsys is out with
the small families; its CF memo takes about 20 s to build on a first call.
"""
import csv
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLE = os.path.join(HERE, "registry_selection.tsv")
COLUMNS = ["name", "family", "memo", "warm_s", "busy_frac", "build_share"]
MIN_FAMILY = 10
SRC = os.path.join(run.ROOT, "src", "main", "scala", "graft")


def registry():
    """{query: (family, method)} from `SparkEntry.queries`."""
    with open(os.path.join(SRC, "SparkEntry.scala")) as fh:
        text = fh.read()
    body = text[text.index("def queries"):text.index("def oracleSql")]
    return {n: (f, m) for n, f, m in
            re.findall(r'"(q\w+)"\s*->\s*\(?([A-Z]\w*)\.(\w+)', body)}


def memo_readers():
    """(family, method) pairs that reach a `SessionMemo` memo: in each
    operators file that registers one, the top-level `def`s whose bodies
    call the memo's `getOrElseUpdate` or, transitively, such a `def`."""
    reach = set()
    for path in sorted(glob.glob(os.path.join(SRC, "operators", "*.scala"))):
        with open(path) as fh:
            text = fh.read()
        if "SessionMemo.register" not in text:
            continue
        memos = re.findall(r"val (\w+)\s*=\s*scala\.collection\.concurrent\.TrieMap", text)
        parts = re.split(r"\n  (?:private(?:\[\w+\])? )?def (\w+)", text)
        defs = dict(zip(parts[1::2], parts[2::2]))
        found = {d for d, b in defs.items() if any(f"{m}.getOrElseUpdate(" in b for m in memos)}
        while True:
            more = {d for d, b in defs.items()
                    if d not in found and any(re.search(rf"\b{f}\(", b) for f in found)}
            if not more:
                break
            found |= more
        family = os.path.basename(path)[:-len(".scala")]
        reach |= {(family, d) for d in found}
    return reach


def measure():
    """One runner pass over every query: a first call, an untimed second
    call and a traced third call, in one session, outputs unchecked."""
    cp, _ = run.build()
    data = run.ensure_data(cp)
    reg = registry()
    names = sorted(reg)
    cores = os.cpu_count() or 4
    work = os.path.join(run.STATE, "work", "select")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    log = os.path.join(run.STATE, "select.log")
    with open(log, "w") as fh:
        rc = run.run_bounded(run.java_cmd(cp, work, "perfbench.Runner", [
            "--mode", "queries", "--data", data, "--work", work, "--out", out,
            "--seconds", "0", "--trace", "1", "--check", "0", "--cores", str(cores),
            "--warmup", run.WARMUP, "--ops", ",".join(names)]),
            cwd=work, timeout=3600, stdout=fh)
    if rc != 0:
        raise run.BenchError(f"runner exited with {rc}; see {log}")
    with open(out) as fh:
        res = json.load(fh)
    warm = {o["name"]: o for o in res["ops"] if o["pass"] == 0}
    traced = {r["name"]: r for r in res["recon"]}
    readers = memo_readers()
    rows = []
    for n in names:
        if warm[n]["error"]:
            raise run.BenchError(f"{n} threw: {warm[n]['error']}")
        t = traced[n]
        rows.append({"name": n, "family": reg[n][0], "memo": int(reg[n] in readers),
                     "warm_s": f"{warm[n]['latency']:.4f}",
                     "busy_frac": f"{t['task_s'] / (cores * t['latency']):.4f}",
                     "build_share": f"{t['build'] / t['latency']:.4f}"})
    rows.sort(key=lambda r: (r["family"], float(r["warm_s"])))
    with open(TABLE, "w", newline="") as fh:
        w = csv.DictWriter(fh, COLUMNS, delimiter="\t", lineterminator="\n")
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {os.path.relpath(TABLE, run.ROOT)}: {len(rows)} queries on {cores} cores, "
          f"data {os.path.relpath(data, run.ROOT)}")


def select(rows):
    """The rule, applied to table rows."""
    families = {}
    for r in rows:
        families.setdefault(r["family"], []).append(r)
    cheapest = lambda rs: min(rs, key=lambda r: (float(r["warm_s"]), r["name"]))["name"]
    return sorted(cheapest(rs) for rs in families.values() if len(rs) >= MIN_FAMILY)


def read_table():
    with open(TABLE, newline="") as fh:
        return list(csv.DictReader(fh, delimiter="\t"))


def main(argv):
    if argv[1:] == ["measure"]:
        measure()
    elif argv[1:]:
        sys.exit(__doc__)
    rows = read_table()
    picked = select(rows)
    listed = sorted(run.WORKLOADS["registry_sf01"]["queries"])
    warm = {r["name"]: float(r["warm_s"]) for r in rows}
    for n in picked:
        print(f"{n:<28} {warm[n]:.3f} s")
    print(f"{len(picked)} queries, {sum(warm[n] for n in picked):.2f} s per warm pass")
    if picked != listed:
        print(f"workloads.json lists {listed}, the rule gives {picked}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
