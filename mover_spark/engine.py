"""Engine facade — the three user actions of the reference CLI
(extract / load / describe, cmd/mover/main.go:70-93) on Spark.

extract: seed query -> FK-closure -> sanitize -> JSON envelopes + media list
         (etl/engine.go:104-134)
load:    JSON envelopes -> schema-coerced, PK-idempotent merge into the
         target (etl/engine.go:99-101; JDBC upsert when a DSN is given,
         parquet merge for file targets)
describe: catalog printout (etl/engine.go:89-96)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .config import MoverConfig
from .operators.closure import extract_closure
from .operators.sanitize import sanitize_df
from .sources import jsonio
from .util import get_query_table, map_concurrent


class Engine:
    def __init__(self, spark: SparkSession, catalog: Catalog, config: MoverConfig | None = None):
        self.spark = spark
        self.catalog = catalog
        self.config = config or MoverConfig()

    # -- describe ------------------------------------------------------------

    def describe(self, table: str) -> list[dict]:
        return self.catalog.describe(table)

    # -- extract ---------------------------------------------------------

    def extract(
        self,
        out_dir: str,
        query: str,
        table: str | None = None,
        partitioned: bool = True,
        download_media: bool = False,
    ) -> dict[str, DataFrame]:
        """Seed query -> closure -> sanitize -> envelopes (engine.go:104-134).

        The tables' sanitize + envelope writes run concurrently
        (``map_concurrent``), sharing the session's task slots; the media
        URL union is built afterwards, in table order.

        Default is the scale-safe partitioned envelope (parallel executor
        writers, nothing collected to the driver — a 100 TB closure cannot
        OOM the driver the way the reference's in-RAM extractor can,
        etl/extractor.go:17-18). Pass ``partitioned=False`` for byte-level
        parity with the reference's single-file envelope format."""
        table = table or get_query_table(query)
        seed = self.spark.sql(query)
        seeds = [(table, seed)]
        # `extra` tables are full-scanned and closed over too (engine.go:117-125)
        for extra in self.config.extra_tables():
            seeds.append((extra, self.catalog.df(extra)))

        extracted = extract_closure(
            self.spark, self.catalog, seeds, self.config.schema_configs()
        )

        def write(item: tuple[str, DataFrame]) -> DataFrame:
            tname, df = item
            meta = self.catalog.table(tname)
            clean = sanitize_df(df, self.config.column_rules(tname), meta.primary_keys,
                                locale=self.config.locale, dedup=meta.pk_unique)
            jsonio.write_envelope(clean, tname, out_dir, partitioned=partitioned)
            return clean

        results = dict(zip(extracted, map_concurrent(self.spark, write, extracted.items())))
        media_dfs: list[DataFrame] = []
        for tname, clean in results.items():
            udf = self._media_urls_df(clean, self.config.column_rules(tname))
            if udf is not None:
                media_dfs.append(udf)
        if media_dfs:
            urls = media_dfs[0]
            for extra in media_dfs[1:]:
                urls = urls.unionByName(extra)
            if download_media:
                # the manifest write and the download both evaluate `urls`,
                # and its lineage is the full closure+sanitize pipeline —
                # persist so the second pass reads the cache, not a rerun
                # of the whole extract
                urls = urls.persist()
            self._write_media_manifest(urls, out_dir)
            if download_media:
                try:
                    self._download_media(urls, out_dir)
                finally:
                    urls.unpersist()
        return results

    def _media_urls_df(self, df: DataFrame, rules) -> DataFrame | None:
        """S14 filename collection (etl/util.go:48-72) as a DataFrame of
        base_url+path URLs — stays distributed; nothing is collected."""
        parts = []
        for rule in rules:
            if not rule.download:
                continue
            base = (rule.download.get("http") or {}).get("base_url", "")
            parts.append(
                df.where(F.col(rule.name).isNotNull())
                .select(F.concat(F.lit(base), F.col(rule.name)).alias("url"))
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _write_media_manifest(self, urls: DataFrame, out_dir: str) -> None:
        """Executor-parallel manifest write (scale path: `_media_manifest/`
        text dir), plus the reference's single `_media_manifest.txt` assembled
        by streaming the part files — file-level I/O only, no row collect."""
        manifest_dir = os.path.join(out_dir, "_media_manifest")
        urls.write.mode("overwrite").text(manifest_dir)
        with open(os.path.join(out_dir, "_media_manifest.txt"), "w") as dst:
            for name in sorted(os.listdir(manifest_dir)):
                if not name.startswith("part-"):
                    continue
                with open(os.path.join(manifest_dir, name)) as src:
                    for line in src:
                        dst.write(line)

    def _download_media(self, urls: DataFrame, out_dir: str) -> None:
        """S14 downloads, executor-parallel straight off the URL DataFrame
        (the reference serialized them by accident — g.Wait() inside the
        submit loop, etl/util.go:110). Destination mirrors the URL path
        under media/ exactly like downloadFile (etl/util.go:119-151).
        Failure-semantics divergence, deliberate: the reference ABORTS the
        whole download on the first failed URL (g.Wait's first error,
        util.go:110-113) — at scale one dead link must not kill a million
        fetches, so failures skip-and-continue; the manifest is the
        retry/recon list. Exercised against a live loopback HTTP server in
        tests/test_engine.py::test_media_download_local."""
        media_dir = os.path.join(out_dir, "media")

        def fetch(it):
            import urllib.parse
            import urllib.request

            for row in it:
                url = row["url"]
                split = urllib.parse.urlsplit(url)
                rel = split.path.lstrip("/")
                if not rel or rel.endswith("/"):
                    continue  # no file name to mirror — skip, not crash
                dest = os.path.normpath(os.path.join(media_dir, rel))
                # containment check: a URL path smuggling '../' segments
                # must not write outside the media mirror (extracted data
                # is untrusted; this runs on every executor)
                if not dest.startswith(os.path.normpath(media_dir) + os.sep):
                    continue
                os.makedirs(os.path.dirname(dest) or media_dir, exist_ok=True)
                # percent-encode unsafe chars (spaces etc.) in the PATH only;
                # '%' stays safe so pre-encoded URLs survive, query strings
                # pass through verbatim ('+'/'=' keep their wire meaning) and
                # the fragment is dropped (never part of the request). The
                # local mirror path keeps the RAW name.
                req = urllib.parse.urlunsplit(
                    (
                        split.scheme,
                        split.netloc,
                        urllib.parse.quote(split.path, safe="/%"),
                        split.query,
                        "",
                    )
                )
                # download to a PER-TASK-UNIQUE sidecar and promote
                # atomically, so a failed or interrupted fetch can never
                # leave a partial file AND a retry run can never delete a
                # previously-downloaded good one. The uuid suffix matters:
                # two DIFFERENT urls (netloc/query differ) can map to the
                # same mirror dest, so a shared dest+'.part' name would
                # still race even after the distinct() below
                import uuid

                part = dest + ".part-" + uuid.uuid4().hex
                try:
                    urllib.request.urlretrieve(req, part)
                    os.replace(part, dest)
                except Exception:
                    # dead link: skip (see docstring); drop only our sidecar
                    try:
                        if os.path.isfile(part):
                            os.remove(part)
                    except OSError:
                        pass
                # sweep sidecars orphaned by DEAD attempts (task killed
                # before its except ran — executor OOM/node loss, then
                # retried under a NEW uuid): without this the mirror
                # accumulates .part-* junk that directory-walking
                # consumers would pick up. AGE GATE: only sidecars whose
                # mtime is older than the stale window are swept, so a
                # LIVE racer's in-flight sidecar (a different URL
                # mirroring to the same dest) is never unlinked — its
                # os.replace still promotes and the fetch is not silently
                # lost. urlretrieve writes continuously, keeping a live
                # sidecar's mtime fresh; a truly dead one stops aging.
                import glob as _glob
                import re as _re
                import time as _time

                stale_before = _time.time() - 600  # 10 min > any fetch stall
                # glob.escape: dest comes from the RAW url path, so [ ] * ?
                # in it must match literally, not as glob classes. The
                # suffix filter restricts the sweep to OUR uuid4-hex
                # sidecar shape — a mirrored file legitimately NAMED
                # *.part-<something> must never be swept.
                for stale in _glob.glob(_glob.escape(dest) + ".part-*"):
                    if not _re.fullmatch(
                        r"\.part-[0-9a-f]{32}", stale[len(dest):]
                    ):
                        continue
                    try:
                        if os.stat(stale).st_mtime < stale_before:
                            os.remove(stale)
                    except OSError:
                        pass

        # distinct: the same media file referenced from several rows must
        # fetch ONCE — duplicate fetches are wasted bandwidth, and the
        # last promote wins pointlessly. (Write-safety itself comes from
        # the per-task-unique sidecar above, which also covers distinct
        # URLs that mirror to the same dest path.)
        urls.distinct().foreachPartition(fetch)

    # -- load ------------------------------------------------------------

    def load(
        self,
        in_dir: str,
        target_dir: str | None = None,
        dsn: str | None = None,
        connection_factory=None,
        partition_writer=None,
        on_conflict: str = "nothing",
    ) -> dict[str, DataFrame]:
        """Idempotent load of envelope files (loader.go:25-76).

        File target: anti-join on PK against existing rows == ON CONFLICT
        DO NOTHING, then append parquet. DB target: psycopg2 upsert sink,
        bracketed by trigger disable/enable and followed by sequence resync
        exactly like the reference (postgres.go:64-97,483-523);
        `connection_factory` lets tests inject a stub connection.
        Either way the incoming batch is PK-deduped first WHEN the catalog
        marks the PK unique — the reference's per-row ON CONFLICT DO NOTHING
        also ignores duplicates WITHIN a file, but only through a real unique
        constraint; tables flagged pk_unique=False (lineitem) keep their
        legitimate duplicate-PK rows.
        `on_conflict`: "nothing" (reference parity — conflicting rows are
        ignored) or "update" (last-write-wins merge, a refresh capability
        the reference lacks: DO UPDATE on the DB path, existing-row
        replacement on the file path).
        A DSN target loads one table at a time, alphabetically like the
        reference's directory walk — survivable because constraints are not
        enforced during the write (the reference disables triggers for the
        same reason). A file target's tables are independent paths, so they
        load concurrently (``map_concurrent``), sharing the session's task
        slots; the envelopes are read the same way."""
        payloads = jsonio.read_envelopes(self.spark, in_dir)
        live_tables: dict | None = None

        def keyed(tname: str) -> tuple[DataFrame, list[str], bool]:
            """The table's coerced, PK-deduped batch, its PK and pk_unique."""
            nonlocal live_tables
            df = payloads[tname]
            if tname in self.catalog.tables:
                df = jsonio.coerce_to_schema(df, self.catalog.df(tname))
                pks = self.catalog.table(tname).primary_keys
                pk_unique = self.catalog.table(tname).pk_unique
            else:
                # The reference dispatches purely on the embedded table_name
                # and takes key metadata from the TARGET database. Do the
                # same for a DSN target: introspect the live catalog once
                # (lazily) and use its PK — the envelope's own column order
                # is meaningless (JSON readback is alphabetical). Only when
                # the table is unknown on BOTH sides (or introspection is
                # unavailable) fall back to the first column as the key.
                pks, pk_unique = None, True
                if dsn is not None:
                    if live_tables is None:
                        from .sources.jdbc import dsn_run_sql, introspect_catalog

                        try:
                            live_tables = introspect_catalog(
                                dsn_run_sql(dsn, connection_factory)
                            )
                        except Exception:
                            live_tables = {}
                    if tname in live_tables and live_tables[tname].primary_keys:
                        pks = live_tables[tname].primary_keys
                if pks is None:
                    # a GUESSED key is not a unique constraint: deduping on
                    # an arbitrary first column (could be 'amount') would
                    # silently discard rows sharing a value. The guessed
                    # key still drives upsert targeting, but never dedup.
                    pks = [df.columns[0]]
                    pk_unique = False
            # Dedupe ONLY when the catalog says the PK is genuinely unique.
            # lineitem's (l_orderkey, l_linenumber) is flagged pk_unique=False
            # and extract/sanitize preserves its duplicate-PK rows; a load
            # must not silently drop them (the reference's ON CONFLICT fires
            # only on a real unique constraint, which such tables don't have).
            if pk_unique:
                df = df.dropDuplicates(pks)
            return df, pks, pk_unique

        tables = sorted(payloads)
        if dsn is not None:
            # one table at a time: each upsert is bracketed by trigger
            # disable/enable DDL on the live database
            from .sources.jdbc import bulk_upsert

            out: dict[str, DataFrame] = {}
            for tname in tables:
                df, pks, pk_unique = keyed(tname)
                out[tname] = df
                bulk_upsert(df, dsn, tname, pks,
                            connection_factory=connection_factory,
                            partition_writer=partition_writer,
                            on_conflict=on_conflict,
                            pk_unique=pk_unique)
            return out

        def write(tname: str) -> DataFrame:
            df, pks, _ = keyed(tname)
            if target_dir is None:
                return df
            dest = os.path.join(target_dir, f"{tname}.parquet")
            if not os.path.exists(dest):
                df.write.parquet(dest)
            elif on_conflict == "update":
                # last-write-wins merge: incoming rows replace same-PK
                # existing rows. localCheckpoint materializes the merge
                # off the source files so overwriting the path we read
                # from is safe.
                existing = self.spark.read.parquet(dest)
                kept = existing.join(df.select(*pks), on=pks, how="left_anti")
                merged = kept.select(*df.columns).unionByName(df).localCheckpoint()
                merged.write.mode("overwrite").parquet(dest)
            else:
                existing = self.spark.read.parquet(dest)
                fresh = df.join(existing, on=pks, how="left_anti")
                fresh.write.mode("append").parquet(dest)
            return df

        return dict(zip(tables, map_concurrent(self.spark, write, tables)))
