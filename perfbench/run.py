#!/usr/bin/env python3
"""Benchmark launcher: one command per workload.

    python3 perfbench/run.py --workload queries|cortex_etl --seed N \
        --seconds S --trace 0|1

Run from the checkout root. It builds the engine and the benchmark from source
(perfbench/build.py), makes the workload's inputs from the seed, and starts
two fresh single-process engines, one after the other. The first only sets
up: JVM launch to ready is one set-up sample. The second gives the other
sample and runs the workload: a cold first pass, one unreported warm-up pass
on which every output is checked untimed, then warm passes for --seconds, at
least three. It prints one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. A full artifact with the host stamp and the
result fingerprints is written to .bench_build/artifacts/. Exits non-zero
without a result line when the build or the run cannot complete.
"""
import argparse
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from xml.sax.saxutils import escape

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
BUILD = build.BUILD
DEADLINE_S = 170           # a run ends within this, or fails
WORKLOADS = ("queries", "cortex_etl")

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ---- cortex_etl inputs ----------------------------------------------------

HEADER = ["Endpoint Name", "Endpoint Alias", "Endpoint Type", "Operating System", "Agent Version",
          "Endpoint Status", "Last Seen", "Last Upgrade Status", "Last Upgrade Failure Reason",
          "IP Address", "Notes"]
STATUSES = ["connected", " CONNECTED ", "Connected", "disconnected", "DISCONNECTED ",
            "lost contact", "Lost Contact", None]
SYSTEMS = ["Windows 10", "Windows 11", "Ubuntu 22.04", "macOS 14", "RHEL 9", None]
UPGRADES = ["Success", "SUCCESS", "Failed", "Timed Out", "In Progress", None]
REASONS = ["error code 5", "agent faulty", "disk full", None]
FAIL_RE = re.compile("fail|timed out|faulty|lost|error")
CORTEX_UPLOADS, CORTEX_ROWS, CORTEX_KEYS = 3, 2000, 2500


def col_ref(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, rows):
    """Minimal SpreadsheetML workbook: shared strings, numeric cells for
    numbers, absent cells for None, one worksheet."""
    shared, index = [], {}
    body = []
    for r, row in enumerate(rows, 1):
        cells = []
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{col_ref(c)}{r}"
            if isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                if v not in index:
                    index[v] = len(shared)
                    shared.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{index[v]}</v></c>')
        body.append(f'<row r="{r}">{"".join(cells)}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sst = "".join(f"<si><t xml:space=\"preserve\">{escape(s)}</t></si>" for s in shared)
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" xmlns:r="{rel}">'
            '<sheets><sheet name="Endpoints" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/></Relationships>',
        "xl/sharedStrings.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><sst xmlns="{ns}" count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}"><sheetData>{"".join(body)}</sheetData></worksheet>',
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            z.writestr(name, text)


def title_case(s):
    """Spark initcap(trim(s)): lower everything, upper each word's first letter."""
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.strip().split(" "))


def cortex_inputs(seed, out_dir):
    """K seeded Cortex-export uploads (title rows above the header, overlapping
    endpoint keys, messy status/IP/timestamp cells, an all-empty column and
    all-empty rows) plus the expected catalog, computed independently."""
    rng = random.Random(seed)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    latest, batch_rows, stamp, input_rows = {}, 0, 0, 0
    order = list(range(CORTEX_UPLOADS * CORTEX_ROWS))
    rng.shuffle(order)     # unique timestamps, in no particular upload order
    for u in range(CORTEX_UPLOADS):
        rows = [[f"Relatório Cortex XDR - export {u}"] + [None] * (len(HEADER) - 1)]
        if u % 2:
            rows.append([None] * len(HEADER))
        rows.append(list(HEADER))
        for _ in range(CORTEX_ROWS):
            k = rng.randrange(CORTEX_KEYS)
            secs = order[stamp]
            stamp += 1
            valid = k not in latest or rng.random() > 0.05
            seen = (time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(1704067200 + secs * 37))
                    if valid else rng.choice(["n/a", "never", "--"]))
            upgrade = rng.choice(UPGRADES)
            reason = rng.choice(REASONS) if upgrade in ("Failed", "Timed Out") else None
            ip = rng.choice([f"10.{k % 256}.{u}.{rng.randrange(256)}, 192.168.0.{k % 200}",
                             f"fe80::{k:x}, 10.1.{u}.{k % 256}", "n/a", None])
            row = [f"host-{k:05d}", f"alias-{k:05d}", rng.choice(["WORKSTATION", "SERVER", "VM"]),
                   rng.choice(SYSTEMS), rng.choice(["7.9.0", "8.1.2", 8.2]),
                   rng.choice(STATUSES), seen, upgrade, reason, ip, None]
            rows.append(row)
            batch_rows += 1
            if valid and (k not in latest or secs > latest[k][0]):
                latest[k] = (secs, row)
            if rng.random() < 0.01:
                rows.append([None] * len(HEADER))
        input_rows += len(rows)
        write_xlsx(os.path.join(out_dir, f"upload_{u:03d}.xlsx"), rows)

    def counts(values):
        out = {}
        for v in values:
            key = "null" if v is None else v
            out[key] = out.get(key, 0) + 1
        return out
    winners = [row for _, row in latest.values()]
    expected = {
        "base_rows": len(winners),
        "batch_rows": batch_rows,
        "tx_rows": batch_rows,
        "resumo_status": counts(None if r[5] is None else title_case(r[5]) for r in winners),
        "resumo_os": counts(r[3] for r in winners),
        "falhas_rows": sum(1 for r in winners
                           if any(v is not None and FAIL_RE.search(v.lower()) for v in (r[7], r[8]))),
        "xlsx_equals_catalog": True,
    }
    return expected, input_rows


# ---- engine runs ----------------------------------------------------------

def java_cmd(classes, work, args):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = [f"-Dspark.local.dir={work}/spark-local", f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
    # -Xms = -Xmx: with a heap that grows on demand, some JVMs settle where old
    # gen sits at G1's marking threshold and spend seconds per pass in
    # concurrent marking, others never mark; a fixed heap keeps every run in
    # one regime.
    # -UsePerfData: the JVM would otherwise write its counters under /tmp.
    # -UseDynamicNumberOfCompilerThreads: all JIT threads start with the JVM
    # and live to its end, so their CPU time can be taken out of cpu_s.
    return (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             "-XX:-UseDynamicNumberOfCompilerThreads"] + opens + props +
            ["-cp", f"{classes}:{jars}", "perfbench.Main"] + args)


def launch(classes, work, args, timeout, log):
    """Run the JVM; return its PERFBENCH result object."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    t0_ms = int(time.time() * 1000)
    cmd = java_cmd(classes, work, args + ["--t0-ms", str(t0_ms)])
    with open(log, "a") as err:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                           text=True, timeout=max(timeout, 1))
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"engine run failed (exit {r.returncode}); see {log}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def disk_write_mbps(work):
    path = os.path.join(work, "tmp", "disk_probe.bin")
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(64):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    mbps = 64 / (time.perf_counter() - t0)
    os.remove(path)
    return round(mbps, 1)


def steal_s():
    """Host CPU time stolen from this machine's CPUs so far (Linux), seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return os.environ.get("GIT_COMMIT", "unknown")
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return os.environ.get("GIT_COMMIT", "unknown")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()

    classes = build.build()
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        raise SystemExit(f"missing input tables under {DATA}")
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    open(log, "w").close()

    # Inputs first: generation is not set-up and is never timed.
    cortex_expected, cortex_rows = None, 0
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(os.cpu_count()), "--data", DATA, "--work", work]
    if a.workload == "cortex_etl":
        uploads = os.path.join(work, "uploads")
        cortex_expected, cortex_rows = cortex_inputs(a.seed, uploads)
        args += ["--uploads", uploads]

    steal0 = steal_s()
    setups = [launch(classes, work, args + ["--setup-only", "1"],
                     DEADLINE_S - (time.monotonic() - start), log)["setup_s"]]
    res = launch(classes, work, args, DEADLINE_S - (time.monotonic() - start), log)
    setups.append(res["setup_s"])

    # ---- output checks (untimed) ------------------------------------------
    problems = []
    if a.workload == "cortex_etl":
        got = res["cortex"]
        for k, want in cortex_expected.items():
            if got.get(k) != want:
                problems.append(f"cortex {k}: got {json.dumps(got.get(k))[:200]} want {json.dumps(want)[:200]}")
        input_rows = cortex_rows
    else:
        fps = res["fingerprints"]
        with open(EXPECTED) as f:
            expected = json.load(f)["queries"]
        for q, fp in sorted(fps.items()):
            if expected.get(q) != fp:
                problems.append(f"{q}: fingerprint {fp} != expected {expected.get(q)}")
        for q, (ok, want, got) in sorted(res["coverage"].items()):
            if not ok:
                problems.append(f"{q}: noop plan holds {got} nodes, optimized plan {want}")
        input_rows = res["input_rows"]
    attempted = res["attempted"]
    failed = min(attempted, res["failed_runs"] + len(problems))
    problems += [f"{k}: {v}" for k, v in res["errors"].items()]

    wall = res["wall_s"]
    if a.trace:
        # every declared per-layer metric; a layer the workload never calls reads 0
        layers = res["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared("per_layer")}
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "first_pass_s": (res["first_pass_s"], "s"),
            "wall_s": (wall, "s"),
            "cpu_s": (res["cpu_s"], "s"),
            "rows_per_s": (input_rows / wall if wall else 0.0, "1/s"),
            "storage_peak_mb": (res["storage_peak_mb"], "MB"),
            "ok_frac": (1.0 - failed / attempted, "frac"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    host = dict(res["host"], disk_write_mbps=disk_write_mbps(work), git_commit=git_commit(),
                cpu_count=os.cpu_count(), steal_s=round(steal_s() - steal0, 2),
                loadavg=os.getloadavg())
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
                "host": host, "input_rows": input_rows,
                "problems": problems, "metrics": metrics, "run_s": time.monotonic() - start,
                "setup_samples_s": setups,
                **{k: v for k, v in res.items() if k not in ("host",)}}
    arts = os.path.join(BUILD, "artifacts")
    os.makedirs(arts, exist_ok=True)
    with open(os.path.join(arts, f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    for p in problems:
        print(f"[perfbench] FAILED {p}", file=sys.stderr)
    print(f"[perfbench] host {json.dumps(host, sort_keys=True)}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def declared(kind):
    """Metric declarations of BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


if __name__ == "__main__":
    try:
        main()
    except subprocess.TimeoutExpired:
        raise SystemExit("[perfbench] engine run exceeded its deadline")
    except RuntimeError as e:
        raise SystemExit(f"[perfbench] {e}")
