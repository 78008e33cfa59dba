"""Seeded input generator for the symbolication benchmark.

Everything here is a pure function of ``(workload, seed, scale)``: the same
arguments give byte-identical transcripts and store artifacts.  Trace texts
for the fixture-sized stores come from ``symspark.sources.datagen``'s row
builders; the large-store workload renders real artifacts (a source map, a
ProGuard ``mapping.txt`` and a Breakpad ``.sym``) that the benchmark feeds
to ``symspark.sources.*_build.build_store_from_dir``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from symspark.sources import datagen

# turn-kind shares of the fixture mix (prose, traces of each language,
# MetricKit JSON, and text that looks like a trace but does not parse)
MIXED_SHARES = {
    "prose": 0.55,
    "js": 0.15,
    "java": 0.12,
    "apple": 0.10,
    "metrickit": 0.05,
    "malformed": 0.03,
}
LARGE_SHARES = {"prose": 0.04, "js": 0.32, "java": 0.32, "apple": 0.32}
HOT_CONV_SHARE = 0.01  # conversations with HOT_TURNS turns instead of CONV_TURNS
CONV_TURNS, HOT_TURNS = 8, 320

_KIND_LANG = {"js": "javascript", "java": "java", "apple": "swift", "metrickit": "swift"}
_TRACE_LANGS = ("javascript", "java", "swift")
_PROSE_LANGS = ("javascript", "java", "swift", "other", None)

# large-store artifact identities
LS_JS_URL = "https://cdn.example.com/assets/bundle.min.js"
LS_PG_UUID = "bench-mapping-0001"
LS_DSYM_UUID = "B3E9C2A1-7D4F-4E21-9A6B-5C8D0F1E2A3B"
LS_BINARY = "BenchApp"
LS_PG_CLASSES = tuple((f"a.{c}", m) for c in "abcd" for m in "ab")
LS_SYM_BASE, LS_SYM_SIZE = 0x1000, 0x40
LS_PG_WIDTH = 5

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("language", pa.string()),
        ("event_name", pa.string()),
        ("metrickit_stacktrace_json", pa.string()),
        ("exception_type", pa.string()),
        ("exception_message", pa.string()),
        ("st_columns", pa.list_(pa.int64())),
        ("st_functions", pa.list_(pa.string())),
        ("st_lines", pa.list_(pa.int64())),
        ("st_urls", pa.list_(pa.string())),
        ("st_classes", pa.list_(pa.string())),
        ("st_methods", pa.list_(pa.string())),
        ("st_jvm_lines", pa.list_(pa.int64())),
        ("st_source_files", pa.list_(pa.string())),
        ("source_map_uuid", pa.string()),
        ("build_uuid", pa.string()),
        ("app_executable", pa.string()),
        ("proguard_uuid", pa.string()),
    ]
)


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------

def _conversations(rng: random.Random, n_turns: int) -> list[tuple[str, int]]:
    convs, total = [], 0
    while total < n_turns:
        size = HOT_TURNS if rng.random() < HOT_CONV_SHARE else CONV_TURNS
        size = min(size, n_turns - total)
        convs.append((f"c{len(convs):06d}-{rng.getrandbits(24):06x}", size))
        total += size
    return convs


def _exact_kinds(rng: random.Random, n: int, shares: dict[str, float]) -> list[str]:
    """Exactly round(share * n) turns of each kind (prose absorbs rounding),
    in seeded random order, so every seed has the same mix."""
    counts = {k: round(s * n) for k, s in shares.items() if k != "prose"}
    kinds = [k for k, c in counts.items() for _ in range(c)]
    kinds += ["prose"] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def _conv_resources(rng: random.Random, large: bool) -> dict:
    """Per-conversation resource attributes (the datagen fixture's split of
    store hits, misses and absent attributes; large stores always hit)."""
    if large:
        return {
            "source_map_uuid": "",
            "build_uuid": LS_DSYM_UUID,
            "app_executable": LS_BINARY,
            "proguard_uuid": LS_PG_UUID,
        }
    r = rng.randrange(100)
    if r < 70:
        build_uuid, exe = datagen.DSYM_UUID_KNOWN, datagen.APP_BINARY
    elif r < 90:
        build_uuid, exe = datagen.DSYM_UUID_MISS, datagen.APP_BINARY
    elif r < 95:
        build_uuid, exe = None, datagen.APP_BINARY
    else:
        build_uuid, exe = datagen.DSYM_UUID_KNOWN, None
    if r < 45:
        pg = datagen.PG_UUIDS[0]
    elif r < 70:
        pg = datagen.PG_UUIDS[1]
    elif r < 90:
        pg = datagen.PG_UUID_MISS
    else:
        pg = None
    return {
        "source_map_uuid": datagen.SM_UUID if rng.randrange(100) < 15 else "",
        "build_uuid": build_uuid,
        "app_executable": exe,
        "proguard_uuid": pg,
    }


def _empty_row() -> dict:
    return {name: None for name in SCHEMA.names}


def _mixed_turn(kind: str, s: int, row: dict) -> bool:
    """Fill a fixture-mix turn from datagen's row builders; returns whether
    the parse stage sends the row to the Python UDF."""
    udf = False
    if kind == "prose":
        row["text"] = datagen._prose(s)
        row["language"] = _PROSE_LANGS[s % len(_PROSE_LANGS)]
        return False
    if kind == "malformed":
        row["text"] = datagen._malformed_text(s)
        row["language"] = _TRACE_LANGS[s % 3]
        return False
    row["language"] = _KIND_LANG[kind]
    structured = s % 4 == 0  # a quarter of js/java rows carry the arrays
    if kind == "js":
        row["text"] = datagen._js_text(s)
        if structured:
            urls = list(datagen.SM_URLS)
            n = 2 + s % 3
            row["st_columns"] = [(s // (3 + i)) % 60 for i in range(n - (s % 17 == 0))]
            row["st_lines"] = [10 + (s // (7 + i)) % 90 for i in range(n)]
            row["st_functions"] = [f"fn{i}" for i in range(n)]
            row["st_urls"] = [urls[(s + i) % 5] for i in range(n)]
            row["exception_type"], row["exception_message"] = "Error", f"structured {s % 23}"
        else:
            udf = s % 6 == 5  # Opera's stride-2 format is parsed in Python
            if s % 3:
                row["exception_type"], row["exception_message"] = "TypeError", f"boom {s % 97}"
    elif kind == "java":
        row["text"] = datagen._java_text(s)
        if structured:
            n = 2 + s % 3
            row["st_classes"] = [datagen.PG_CLASSES[(s + i) % 4][0] for i in range(n - (s % 17 == 0))]
            row["st_methods"] = [datagen.PG_CLASSES[(s + i) % 4][1] for i in range(n)]
            row["st_jvm_lines"] = [1 + (s // (3 + i)) % 300 for i in range(n)]
            row["st_source_files"] = ["SourceFile"] * n
            row["exception_type"], row["exception_message"] = "java.lang.Error", f"structured {s % 23}"
    elif kind == "apple":
        row["text"] = datagen._apple_text(s)
    else:  # metrickit: eventName-routed, or the legacy attribute form
        udf = True
        report = datagen._metrickit_text(s) if s % 11 else '{"callStacks": [}'
        if s % 5:
            row["text"] = report
            row["event_name"] = "metrickit.diagnostic.crash"
        else:
            row["text"] = datagen._prose(s)
            row["metrickit_stacktrace_json"] = report
    return udf


def _large_turn(kind: str, s: int, row: dict, sizes: dict) -> None:
    """A trace whose frames all land in the large stores."""
    if kind == "prose":
        row["text"] = datagen._prose(s)
        row["language"] = "other"
        return
    row["language"] = _KIND_LANG[kind]
    rnd = random.Random(s)
    n = 2 + s % 3
    if kind == "js":
        cols = [rnd.randrange(sizes["sm_tokens"] * 8) for _ in range(n)]
        frames = [f"    at fn{i} ({LS_JS_URL}:1:{c})" for i, c in enumerate(cols)]
        row["text"] = f"TypeError: boom {s % 97}\n" + "\n".join(frames)
    elif kind == "java":
        lines = []
        for _ in range(n):
            cls, m = LS_PG_CLASSES[rnd.randrange(len(LS_PG_CLASSES))]
            line = 1 + rnd.randrange(sizes["pg_ranges"] * LS_PG_WIDTH)
            lines.append(f"\tat {cls}.{m}(SourceFile:{line})")
        row["text"] = f"java.lang.IllegalStateException: state {s % 89}\n" + "\n".join(lines)
    else:
        lines = [f"Thread {s % 4} Crashed:"]
        for i in range(n):
            off = LS_SYM_BASE + rnd.randrange(sizes["dsym_symbols"] * LS_SYM_SIZE)
            lines.append(f"{i}   {LS_BINARY}   0x{0x100000000 + off:016x} {LS_BINARY} + {off}")
        row["text"] = "\n".join(lines)


def gen_transcripts(seed: int, n_turns: int, large: dict | None = None) -> tuple[pa.Table, dict]:
    """Transcript table plus its properties.  ``large`` (store sizes) selects
    the large-store mix; otherwise the fixture mix."""
    rng = random.Random(f"transcripts|{seed}|{n_turns}|{bool(large)}")
    kinds = _exact_kinds(rng, n_turns, LARGE_SHARES if large else MIXED_SHARES)
    rows: dict[str, list] = {name: [] for name in SCHEMA.names}
    epoch = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    udf_rows, i = 0, 0
    for conv_id, size in _conversations(rng, n_turns):
        res = _conv_resources(rng, bool(large))
        for t in range(size):
            s = rng.getrandbits(40)
            row = _empty_row()
            row.update(res)
            if large:
                _large_turn(kinds[i], s, row, large)
            else:
                udf_rows += _mixed_turn(kinds[i], s, row)
            row.update(
                conv_id=conv_id,
                turn_idx=t,
                role=("user", "assistant", "tool", "system")[t % 4],
                tool=("bash", "search", "editor", "")[s % 4],
                ts=epoch + dt.timedelta(seconds=s % 31_536_000),
            )
            for k, v in row.items():
                rows[k].append(v)
            i += 1
    counts = {k: kinds.count(k) for k in sorted(set(kinds))}
    traced = n_turns - counts.get("prose", 0)
    props = {
        "turns": n_turns,
        "kinds": counts,
        "udf_rows": udf_rows,
        "udf_share": udf_rows / traced if traced else 0.0,
        "key_digest": key_digest(zip(rows["conv_id"], rows["turn_idx"])),
    }
    return pa.table(rows, schema=SCHEMA), props


def write_transcripts(table: pa.Table, path: str, rows_per_file: int) -> int:
    """Write the table as numbered parquet files; returns the file count."""
    os.makedirs(path, exist_ok=True)
    n = 0
    for n, lo in enumerate(range(0, table.num_rows, rows_per_file)):
        pq.write_table(table.slice(lo, rows_per_file), os.path.join(path, f"part-{n:05d}.parquet"))
    return n + 1


# ---------------------------------------------------------------------------
# order-independent digests
# ---------------------------------------------------------------------------

SEP = "\x1f"


def row_hash(*parts: object) -> int:
    """60-bit hash of the SEP-joined parts; the Spark side computes the same
    value with ``conv(substr(sha2(concat_ws(SEP, ...), 256), 1, 15), 16, 10)``."""
    s = SEP.join("" if p is None else str(p) for p in parts)
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def key_digest(keys) -> str:
    """Order-independent digest of (conv_id, turn_idx) keys: count:sum."""
    n = total = 0
    for conv_id, turn_idx in keys:
        total += row_hash(conv_id, turn_idx)
        n += 1
    return f"{n}:{total}"


# ---------------------------------------------------------------------------
# store artifacts
# ---------------------------------------------------------------------------

_B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"


def vlq(value: int) -> str:
    """Base64-VLQ encoding of one signed field (Source Map Revision 3)."""
    v = (-value << 1) | 1 if value < 0 else value << 1
    out = ""
    while True:
        digit, v = v & 0x1F, v >> 5
        out += _B64[digit | (0x20 if v else 0)]
        if not v:
            return out


def render_sourcemap(rng: random.Random, n_tokens: int) -> tuple[str, str]:
    """(minified source, map json): one generated line (line 1) carrying
    ``n_tokens`` tokens 8 columns apart, mapped into 16 source files."""
    sources = [f"webpack:///src/mod{i}.ts" for i in range(16)]
    names = [f"fn_{i}" for i in range(max(1, n_tokens // 4))]
    segs, prev = [], [0, 0, 0, 0, 0]
    src_line = 0
    for k in range(n_tokens):
        src_line += rng.randrange(3)
        cur = [k * 8, rng.randrange(16), src_line, rng.randrange(80), rng.randrange(len(names))]
        segs.append("".join(vlq(c - p) for c, p in zip(cur, prev)))
        prev = cur
    map_json = json.dumps(
        {"version": 3, "file": "bundle.min.js", "sources": sources, "names": names,
         "mappings": ";" + ",".join(segs)}
    )
    source = "(function(){})();\n" + "var a=0;" * (n_tokens // 8 + 1) + "\n//# sourceMappingURL=bundle.min.js.map\n"
    return source, map_json


def render_mapping(rng: random.Random, n_ranges: int) -> str:
    """ProGuard mapping.txt: each obfuscated (class, method) of
    LS_PG_CLASSES owns ``n_ranges`` consecutive line ranges; every fifth
    range is an inline chain of two frames."""
    out, by_cls = [], {}
    for cls, m in LS_PG_CLASSES:
        by_cls.setdefault(cls, []).append(m)
    for cls, methods in by_cls.items():
        orig = f"com.example.bench.{cls.replace('.', '_').upper()}"
        out.append(f"{orig} -> {cls}:")
        out.append('# {"id":"sourceFile","fileName":"Bench.kt"}')
        for m in methods:
            for r in range(n_ranges):
                lo, hi = 1 + r * LS_PG_WIDTH, (r + 1) * LS_PG_WIDTH
                if r % 5 == 0:
                    out.append(f"    {lo}:{hi}:void com.example.bench.Inl.h{r}():{rng.randrange(1, 900)} -> {m}")
                out.append(f"    {lo}:{hi}:void {orig}.{m}_{r}():{rng.randrange(1, 9000)} -> {m}")
    return "\n".join(out) + "\n"


def render_breakpad(rng: random.Random, n_symbols: int) -> str:
    """Breakpad .sym for one binary: ``n_symbols`` FUNC records of
    LS_SYM_SIZE bytes, each with one LINE record."""
    uuid_hex = LS_DSYM_UUID.replace("-", "")
    out = [f"MODULE mac arm64 {uuid_hex}0 {LS_BINARY}"]
    out += [f"FILE {i} /src/Bench{i}.swift" for i in range(32)]
    for k in range(n_symbols):
        addr = LS_SYM_BASE + k * LS_SYM_SIZE
        out.append(f"FUNC {addr:x} {LS_SYM_SIZE:x} 0 sym_{k}")
        out.append(f"{addr:x} {LS_SYM_SIZE:x} {rng.randrange(1, 5000)} {rng.randrange(32)}")
    return "\n".join(out) + "\n"


def write_large_artifacts(seed: int, root: str, sizes: dict) -> dict:
    """Render the three large stores under ``root/{sourcemap,proguard,dsym}``."""
    rng = random.Random(f"artifacts|{seed}|{sorted(sizes.items())}")
    dirs = {k: os.path.join(root, k) for k in ("sourcemap", "proguard", "dsym")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    source, map_json = render_sourcemap(rng, sizes["sm_tokens"])
    with open(os.path.join(dirs["sourcemap"], "bundle.min.js"), "w") as f:
        f.write(source)
    with open(os.path.join(dirs["sourcemap"], "bundle.min.js.map"), "w") as f:
        f.write(map_json)
    with open(os.path.join(dirs["proguard"], f"{LS_PG_UUID}.txt"), "w") as f:
        f.write(render_mapping(rng, sizes["pg_ranges"]))
    with open(os.path.join(dirs["dsym"], f"{LS_BINARY}.sym"), "w") as f:
        f.write(render_breakpad(rng, sizes["dsym_symbols"]))
    return dirs


def fixture_store_tables() -> dict[str, pa.Table]:
    """The fixture-sized stores, as symspark.sources.datagen builds them."""
    return {name: fn() for name, fn in datagen.TABLES.items()}


def large_store_tables(dirs: dict) -> dict[str, pa.Table]:
    """Build the large stores from their artifacts through symspark.sources."""
    from symspark.sources import dsym_build, proguard_build, sourcemap_build

    out = {}
    out["sourcemap_tokens"], out["sourcemap_store"] = sourcemap_build.build_store_from_dir(dirs["sourcemap"])
    out["proguard_mapping"], out["proguard_store"] = proguard_build.build_store_from_dir(dirs["proguard"])
    out["dsym_symbols"], out["dsym_store"] = dsym_build.build_store_from_dir(dirs["dsym"])
    return out


def store_properties(tables: dict[str, pa.Table]) -> dict:
    """Store entries per dimension and the widest per-key array each
    enrichment join filters per frame."""
    tok = tables["sourcemap_tokens"].select(["url_base", "build_uuid", "min_line"]).to_pylist()
    per_line: dict = {}
    for r in tok:
        key = (r["url_base"], r["build_uuid"], r["min_line"])
        per_line[key] = per_line.get(key, 0) + 1
    pg: dict = {}
    for r in tables["proguard_mapping"].select(["proguard_uuid", "obf_class", "obf_method"]).to_pylist():
        key = tuple(r.values())
        pg[key] = pg.get(key, 0) + 1
    ds: dict = {}
    for r in tables["dsym_symbols"].select(["build_uuid", "binary_name"]).to_pylist():
        key = tuple(r.values())
        ds[key] = ds.get(key, 0) + 1
    return {
        "sourcemap_tokens": tables["sourcemap_tokens"].num_rows,
        "max_tokens_per_line": max(per_line.values(), default=0),
        "proguard_ranges": tables["proguard_mapping"].num_rows,
        "max_ranges_per_method": max(pg.values(), default=0),
        "dsym_symbols": tables["dsym_symbols"].num_rows,
        "max_symbols_per_binary": max(ds.values(), default=0),
    }


def write_store_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
