"""Self-tests of the benchmark itself (not of the library):

  1. determinism: every workload's generator writes byte-identical inputs
     for the same seed, and different inputs for another seed;
  2. each in-process correctness check (table/stream model, corpus
     dedup) accepts the right answer and rejects an injected wrong row;
  3. the DuckDB oracle of anime_metadata accepts its own answer and
     rejects the answer with one row changed or one row dropped.

    python3 perfbench/selftest.py        # exit code 0 when all pass
"""
import hashlib
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

WORK = build.ROOT / ".bench_work" / "selftest"
failures = []


def check(what: str, ok: bool, detail: str = "") -> None:
    print(f"{'PASS' if ok else 'FAIL'} {what}{': ' + detail if detail else ''}")
    if not ok:
        failures.append(what)


def tree_digest(d: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(p for p in d.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(d)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def java(*args) -> None:
    subprocess.run(run.java_cmd(WORK, *args), cwd=build.ROOT, check=True, stdout=subprocess.DEVNULL)


def determinism() -> None:
    for w in run.WORKLOADS:
        d = {}
        for tag, seed in (("a", 11), ("b", 11), ("c", 12)):
            out = WORK / tag / w
            java("gen", "--workload", w, "--seed", str(seed), "--dir", str(out))
            d[tag] = tree_digest(out / "input")
        check(f"{w}: same seed, byte-identical inputs", d["a"] == d["b"])
        check(f"{w}: other seed, different inputs", d["a"] != d["c"])


def in_process_checks() -> None:
    r = subprocess.run(run.java_cmd(WORK, "selftest", "--dir", str(WORK / "corpus")), cwd=build.ROOT,
                       capture_output=True, text=True)
    print(r.stdout, end="")
    check("in-process checks reject injected wrong rows", r.returncode == 0)


def anime_oracle() -> None:
    import duckdb
    inp = WORK / "a" / "anime_metadata" / "input"
    cut = 7500
    con = duckdb.connect()
    con.execute(f"CREATE TABLE want AS {oracle.expected_sql(str(inp), cut)}")
    cases = {
        "right": "SELECT * FROM want",
        "changed": "SELECT * REPLACE (CASE WHEN image_key = (SELECT min(image_key) FROM want) "
                   "THEN ordered_tags || ',extra' ELSE ordered_tags END AS ordered_tags) FROM want",
        "dropped": "SELECT * FROM want WHERE image_key <> (SELECT min(image_key) FROM want)",
    }
    for name, sql in cases.items():
        f = WORK / f"anime_{name}.parquet"
        con.execute(f"COPY ({sql}) TO '{f}' (FORMAT PARQUET)")
        ok, msg = oracle.check(str(inp), str(f), cut)
        check(f"anime oracle: {name} answer {'accepted' if name == 'right' else 'rejected'}",
              ok == (name == "right"), msg)


def main() -> None:
    build.build()
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    determinism()
    in_process_checks()
    anime_oracle()
    shutil.rmtree(WORK, ignore_errors=True)
    print(f"{len(failures)} self-test failure(s)" if failures else "all self-tests passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
