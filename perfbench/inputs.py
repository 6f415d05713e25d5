"""Seeded input generator for the benchmark.

Writes the files the program receives -- documents parquet, media parquet,
the original CDXJ, and (for crawl-rounds) seed-frontier and robots parquet --
and returns the counts the output checks expect. Everything is a pure
function of (workload, seed, size); nothing here imports Spark, so generation
runs before any session exists and is never timed.

Rows use the ten archetypes of ``warc_metadata_sidecar_spark.gen`` with the
same URL scheme (``https://hostNN.example.com/page/<i>``), so the crawl's
synthetic link model resolves into the corpus. What the seed changes: the
archetype order, page text, which pages share a payload, record ids and
timestamps.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

ARCHETYPES = (
    "html_200",
    "dns",
    "gif",
    "revisit",
    "arc_text",
    "digest_dup_a",
    "digest_dup_b",
    "empty_payload",
    "soft404_page",
    "non_200_html",
)
# archetypes whose rows pass filters F1-F3 and get a sidecar record; of
# these only gif is non-text (tests/test_sidecar.py::test_counters)
WRITTEN = {
    "html_200", "gif", "arc_text", "digest_dup_a", "digest_dup_b",
    "soft404_page", "non_200_html",
}
# archetypes whose payload is a page body that may be distinct or shared
PAGES = ("html_200", "soft404_page", "non_200_html")


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int  # documents at full size
    mix: dict  # archetype -> share of rows
    distinct: float  # chance that a page body is unique to its row
    pool_per_rows: int  # rows per shared page body in the pool
    crawl: bool = False


_UNIFORM = {a: 0.1 for a in ARCHETYPES}

WORKLOADS = {
    "chain-web": Workload(
        name="chain-web",
        rows=12_000,
        mix=_UNIFORM,
        distinct=0.8,
        pool_per_rows=40,
    ),
    "chain-revisit": Workload(
        name="chain-revisit",
        rows=12_000,
        mix={
            "html_200": 0.55, "soft404_page": 0.10, "non_200_html": 0.10,
            "digest_dup_a": 0.05, "digest_dup_b": 0.05, "gif": 0.05,
            "arc_text": 0.01, "dns": 0.04, "revisit": 0.03, "empty_payload": 0.02,
        },
        distinct=0.02,
        pool_per_rows=200,
    ),
    "crawl-rounds": Workload(
        name="crawl-rounds",
        rows=12_000,
        mix=_UNIFORM,
        distinct=0.8,
        pool_per_rows=40,
        crawl=True,
    ),
}

# crawl-rounds: more seeds and a larger budget than the CLI defaults
# (--seeds 20 --budget 2), and 2 rounds instead of its 3 so that a run fits
# the benchmark's time budget (a round costs the same at any seed count);
# every other crawl argument is the CLI's default
CRAWL_SEEDS = 200
CRAWL_BUDGET = 4
CRAWL_ROUNDS = 2
ROBOTS_HOSTS = 50

SMOKE_ROWS = 400
DETECTOR_SAMPLE = 300

_WORDS = {
    "en": (
        "the quick brown fox jumps over lazy dog and it is a fine day for "
        "crawling web with distributed frontier that polite to hosts archive "
        "record index metadata library collection digital preservation page "
        "content server request response header body link anchor text image "
        "file format language charset detector sidecar merge capture time"
    ).split(),
    "es": (
        "el zorro marron salta sobre perro y es un buen dia para rastrear la "
        "web con una cola de prioridad que amable los servidores archivo "
        "registro indice biblioteca coleccion digital pagina contenido "
        "servidor peticion respuesta cabecera cuerpo enlace texto imagen"
    ).split(),
}
_HTML = (
    "<!DOCTYPE html><html><head><title>{title}</title></head>"
    "<body>{body}</body></html>"
)
_SOFT404 = (
    "Sorry, the page you requested was not found. Error 404. "
    "The page does not exist or is no longer available. "
)
_GIF = b"GIF89a" + b"\x01\x00\x01\x00\x80\x00\x00" + b"\x00" * 25
_EPOCH = dt.datetime(2021, 11, 11, 21, 11, 11, tzinfo=dt.timezone.utc)
_SENTENCES = 48  # sentences per language in a seed's phrase pool
_PARAS = 30  # sentences per ~3 KB page body

_SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOCUMENTS = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        ("spans", pa.list_(_SPAN)),
        ("url", pa.string()),
        ("warc_date", pa.timestamp("us", tz="UTC")),
        ("rec_type", pa.string()),
        ("payload_digest", pa.string()),
        ("warcinfo_id", pa.string()),
        ("http_status", pa.string()),
        ("is_arc", pa.bool_()),
        ("source_file", pa.string()),
    ]
)


def _sha1(data: bytes) -> str:
    return "sha1:" + hashlib.sha1(data).hexdigest().upper()


def _text_spans(text: str) -> list[dict]:
    mid = len(text) // 2
    return [
        {"kind": "text", "text": text[:mid], "media_ref": None, "offset": 0},
        {"kind": "text", "text": text[mid:], "media_ref": None, "offset": mid},
    ]


class _Pages:
    """Page bodies built from a seeded phrase pool: a body is _PARAS
    sentences picked by the row's own RNG draws, ~3 KB of en or es prose."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.sentences = {
            lang: [
                " ".join(rng.choice(words) for _ in range(16)).capitalize() + ". "
                for _ in range(_SENTENCES)
            ]
            for lang, words in _WORDS.items()
        }

    def body(self, lang: str) -> str:
        pool = self.sentences[lang]
        return "<p>" + "".join(self.rng.choice(pool) for _ in range(_PARAS)) + "</p>"

    def html(self, arch: str, key: str) -> str:
        lang = "en" if self.rng.random() < 0.5 else "es"
        if arch == "html_200":
            return _HTML.format(title=f"Page {key}", body=self.body(lang))
        if arch == "soft404_page":
            return _HTML.format(title="404 Not Found", body=_SOFT404 * 20 + key)
        return _HTML.format(title=f"Gone {key}", body=self.body(lang))


def _archetype_sequence(w: Workload, n: int, rng: random.Random) -> list[str]:
    counts = {a: int(round(share * n)) for a, share in w.mix.items()}
    counts["html_200"] += n - sum(counts.values())
    seq = [a for a, c in counts.items() for _ in range(c)]
    rng.shuffle(seq)
    return seq


def _rows(w: Workload, n: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    pages = _Pages(rng)
    pool_size = max(8, n // w.pool_per_rows)
    pools = {
        arch: [pages.html(arch, f"shared-{arch}-{k}") for k in range(pool_size)]
        for arch in PAGES
    }
    arc_text = "plain text from an arc record " + pages.body("en")
    base_s = rng.randrange(10**6)
    rows = []
    for i, arch in enumerate(_archetype_sequence(w, n, rng)):
        host = f"host{i % 50:02d}.example.com"
        row = {
            "doc_id": f"<urn:uuid:{seed:08x}-{i:012d}>",
            "spans": [],
            "url": f"https://{host}/page/{i}",
            "warc_date": _EPOCH + dt.timedelta(seconds=base_s + i),
            "rec_type": "response",
            "payload_digest": None,
            "warcinfo_id": f"<urn:uuid:warcinfo-{seed}-{i // 100}>",
            "http_status": "200",
            "is_arc": False,
            "source_file": f"crawl-{i // 1000:05d}.warc.gz",
        }
        if arch in PAGES:
            if rng.random() < w.distinct:
                html = pages.html(arch, f"{seed}-{i}")
            else:
                html = rng.choice(pools[arch])
            row["spans"] = _text_spans(html)
            digest_src = html + ("404" if arch == "non_200_html" else "")
            row["payload_digest"] = _sha1(digest_src.encode())
            if arch == "non_200_html":
                row["http_status"] = "404"
        elif arch == "dns":
            row["url"] = f"dns:{host}"
            text = f"20211111211111 1.2.3.{i % 255}"
            row["spans"] = _text_spans(text)
            row["payload_digest"] = _sha1(text.encode())
        elif arch == "gif":
            k = rng.randrange(7)
            row["spans"] = [
                {"kind": "media", "text": None, "media_ref": f"media://gif/{k}", "offset": 0}
            ]
            row["payload_digest"] = _sha1(_GIF + bytes([k]))
        elif arch == "revisit":
            row["rec_type"] = "revisit"
            row["spans"] = _text_spans("revisited content")
            row["payload_digest"] = _sha1(b"revisit")
        elif arch == "arc_text":
            row["is_arc"] = True
            row["warcinfo_id"] = None
            row["source_file"] = f"crawl-{i // 1000:05d}.arc.gz"
            row["spans"] = _text_spans(arc_text)
        elif arch in ("digest_dup_a", "digest_dup_b"):
            group = rng.randrange(97)
            if arch == "digest_dup_a":
                text = _HTML.format(title=f"Beacon {group}", body=pages.sentences["en"][0])
            else:
                text = f"__utm.gif beacon payload {group}"
            row["spans"] = _text_spans(text)
            row["payload_digest"] = _sha1(f"beacon:{seed}:{group}:{arch}".encode())
        row["_arch"] = arch
        rows.append(row)
    return rows


def _original_cdxj(rows: list[dict]) -> list[str]:
    """The WARC's own CDXJ (pywb shape): one line per non-dns record, keyed
    by SURT + 14-digit timestamp, sorted like a real index."""
    from warc_metadata_sidecar_spark.functions.surt import py_surt

    lines = []
    for off, r in enumerate(rows):
        if r["url"].startswith("dns:"):
            continue
        block = {
            "url": r["url"],
            "mime": "text/html",
            "status": r["http_status"],
            "digest": (r["payload_digest"] or "").replace("sha1:", ""),
            "length": "1024",
            "offset": str(off * 1024),
            "filename": r["source_file"],
        }
        ts = r["warc_date"].strftime("%Y%m%d%H%M%S")
        lines.append(f"{py_surt(r['url'])} {ts} {json.dumps(block)}")
    lines.sort()
    return lines


def _write_documents(rows: list[dict], path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    cols = [f.name for f in DOCUMENTS]
    per = -(-len(rows) // files)
    for k in range(files):
        part = rows[k * per:(k + 1) * per]
        table = pa.Table.from_pylist([{c: r[c] for c in cols} for r in part], DOCUMENTS)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def _write_media(path: str) -> None:
    from warc_metadata_sidecar_spark.gen import media_rows

    schema = pa.schema(
        [
            pa.field("media_ref", pa.string(), nullable=False),
            ("bytes", pa.binary()),
            ("meta", pa.struct([("media_type", pa.string()), ("width", pa.int32()),
                                ("height", pa.int32()), ("duration_ms", pa.int32())])),
        ]
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(media_rows(), schema), os.path.join(path, "part-0.parquet"))


def _write_crawl_inputs(rows: list[dict], seed: int, out: str) -> dict:
    """Seed frontier (html pages across all hosts, drawn by the seed) and
    the robots table gen.robots builds; returns the simulator's inputs."""
    from warc_metadata_sidecar_spark.gen import robots_rows

    rng = random.Random(seed ^ 0x5EED)
    by_host: dict[int, list[str]] = {}
    for i, r in enumerate(rows):
        if r["_arch"] == "html_200":
            by_host.setdefault(i % ROBOTS_HOSTS, []).append(r["url"])
    # the same number of seeds on every host, so a round's politeness-bound
    # selection is about the same size for every seed
    per_host = CRAWL_SEEDS // ROBOTS_HOSTS
    seed_urls = [
        u for h in sorted(by_host)
        for u in rng.sample(by_host[h], min(per_host, len(by_host[h])))
    ]
    rng.shuffle(seed_urls)
    frontier = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False), ("canonical_url", pa.string()),
            ("host", pa.string()), ("host_salt", pa.int32()), ("priority", pa.float64()),
            ("discovery_round", pa.int32()), ("seq", pa.int64()), ("parent_url", pa.string()),
        ]
    )
    seeds = [
        {"url": u, "canonical_url": None, "host": None, "host_salt": None,
         "priority": None, "discovery_round": 0, "seq": s, "parent_url": None}
        for s, u in enumerate(seed_urls)
    ]
    robots = robots_rows(ROBOTS_HOSTS)
    robots_schema = pa.schema(
        [
            pa.field("host", pa.string(), nullable=False), ("path_prefix", pa.string()),
            ("allowed", pa.bool_()), ("crawl_delay_s", pa.int32()), ("budget", pa.int32()),
        ]
    )
    for name, data, schema in (("seeds", seeds, frontier), ("robots", robots, robots_schema)):
        os.makedirs(os.path.join(out, name), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(data, schema), os.path.join(out, name, "part-0.parquet"))
    return {
        "seed_urls": seed_urls,
        "doc_urls": {r["url"] for r in rows},
        "robots": robots,
    }


def generate(workload: str, seed: int, out: str, smoke: bool = False) -> dict:
    """Write every input of `workload` under `out`; return paths and the
    expected counts the output checks compare against."""
    w = WORKLOADS[workload]
    n = SMOKE_ROWS if smoke else w.rows
    rows = _rows(w, n, seed)
    docs = os.path.join(out, "documents")
    _write_documents(rows, docs, files=8)
    _write_media(os.path.join(out, "media"))
    orig = _original_cdxj(rows)
    os.makedirs(os.path.join(out, "original"), exist_ok=True)
    orig_path = os.path.join(out, "original", "index.cdxj")
    with open(orig_path, "w") as fh:
        fh.write("\n".join(orig) + "\n")

    archs = [r["_arch"] for r in rows]
    written = sum(a in WRITTEN for a in archs)
    non_text = archs.count("gif")
    # a detector run per distinct digest among written rows, one per ARC row
    detector_rows = len(
        {r["payload_digest"] for r in rows if r["_arch"] in WRITTEN and r["payload_digest"]}
    ) + archs.count("arc_text")
    spec = {
        "workload": workload,
        "rows": n,
        "page_bytes": round(
            sum(len(s["text"] or "") for r in rows if r["_arch"] == "html_200" for s in r["spans"])
            / max(1, archs.count("html_200"))
        ),
        "distinct_digests": len({r["payload_digest"] for r in rows if r["payload_digest"]}),
        "documents": docs,
        "media": os.path.join(out, "media"),
        "original_cdxj": orig_path,
        "expected": {
            "total_records_read": n,
            "records_written": written,
            "text_mime": written - non_text,
            "non_text": non_text,
            "original_lines": len(orig),
            "edited": written,
            # checked against the event log's detector UDF rows (traced run)
            "detector_rows": detector_rows,
        },
        # representative detector inputs: (payload text, http status) of
        # the workload's page rows, in row order
        "detector_sample": [
            ("".join(s["text"] for s in r["spans"]), r["http_status"])
            for r in rows if r["_arch"] in PAGES
        ][:DETECTOR_SAMPLE],
    }
    if w.crawl:
        spec["crawl"] = _write_crawl_inputs(rows, seed, out)
        spec["seeds"] = os.path.join(out, "seeds")
        spec["robots"] = os.path.join(out, "robots")
    return spec


if __name__ == "__main__":
    # the size table of perfbench/README.md:
    #   python3 perfbench/inputs.py <seed> <scratch dir>
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    with tempfile.TemporaryDirectory(dir=sys.argv[2] if len(sys.argv) > 2 else None) as tmp:
        print("| workload | rows | distinct digests | detector rows | page size |")
        print("|---|---|---|---|---|")
        for name in WORKLOADS:
            spec = generate(name, seed, os.path.join(tmp, name))
            det = spec["expected"]["detector_rows"]
            print(f"| {name} | {spec['rows']:,} | {spec['distinct_digests']:,} | "
                  f"{det:,} ({det / spec['rows']:.0%}) | {spec['page_bytes']:,} B |")
