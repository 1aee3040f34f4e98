"""Sources (SURVEY §2.1, S1-S9): driver-side staging of remote inputs.

Reads themselves are plain ``spark.read`` calls with an explicit schema
at each caller, so Catalyst gets pushdown/pruning for free; directory
globbing replaces the reference's per-file loops (App.java:63-69:
listFiles + BufferedReader), and a single job over all CommonCrawl
shards replaces the 300-iteration shell loop
(utils/cc_download_convert/start.sh:5).

Compressed inputs: Spark reads ``.gz`` text/CSV natively, which covers
the reference's wget+gzip staging (daily_subdomain_upload.sh:15-24);
7z archives must be staged to gzip/zstd first (S5) — that is a
driver-side fetch concern, exposed here as ``stage_url``.
"""

from __future__ import annotations


def stage_url(
    urls: list[str] | str,
    dest_path: str,
    retries: int = 2,
    timeout: int = 60,
    extract_archives: bool = True,
) -> str:
    """S4/S5/S7 — driver-side fetch-to-staging with mirror failover.

    The reference wgets daily dumps with a cs1 -> cs2 mirror fallback
    (daily_all_upload.sh:28-31) and ClickHouse ingests straight from a
    URL (clickhouse_queries.md:15-18). Spark has no OSS URL datasource,
    so ingestion wrappers stage the payload locally and read the staged
    file. ``.gz`` is left as-is (Spark reads it natively); a 7z payload
    (certstream dumps, daily_certstream_download.sh:33-39) is detected
    by magic and extracted in place with the dependency-free
    ``sources.sevenzip`` reader — ``dest_path`` then becomes a
    *directory* of members, which ``spark.read`` globs exactly like a
    multi-file input. Tries every mirror per round, ``retries`` rounds.
    """
    import shutil
    import urllib.request

    mirror_list = [urls] if isinstance(urls, str) else list(urls)
    errors: list[str] = []
    for _ in range(max(retries, 1)):
        for url in mirror_list:
            try:
                with urllib.request.urlopen(url, timeout=timeout) as resp, open(
                    dest_path, "wb"
                ) as out:
                    shutil.copyfileobj(resp, out)
                if extract_archives:
                    return _extract_if_7z(dest_path)
                return dest_path
            except Exception as e:  # noqa: BLE001 — collect and fail over
                errors.append(f"{url}: {e!r}")
    raise OSError(f"all mirrors failed after {retries} rounds: {errors}")


def _extract_if_7z(dest_path: str) -> str:
    """If the staged payload is a 7z archive, replace it with a
    directory of its extracted members (S5). Non-7z payloads pass
    through untouched."""
    import os

    from sstable_migrator_spark.sources.sevenzip import extract_7z, is_7z

    with open(dest_path, "rb") as f:
        head = f.read(6)
    if not is_7z(head):
        return dest_path
    members = extract_7z(dest_path)
    os.remove(dest_path)
    os.makedirs(dest_path, exist_ok=True)
    used: set[str] = set()
    for i, (name, data) in enumerate(members.items()):
        # flatten directories but keep names collision-free: two members
        # named a/certs.csv and b/certs.csv must NOT overwrite each
        # other (that would silently halve the data)
        safe = os.path.basename(name.replace("\\", "/")) or "member"
        if safe in used:
            root, ext = os.path.splitext(safe)
            safe = f"{root}.{i}{ext}"
        used.add(safe)
        with open(os.path.join(dest_path, safe), "wb") as out:
            out.write(data)
    return dest_path
