"""Output checks for perfbench/run.py.

Every expectation here is computed from the generated input files alone
(DuckDB over the parquet), never from graft's own operators; registry
queries are compared against their DuckDB oracle SQL. Checks run after
the JVM exits, outside every timed region.
"""
import os

import duckdb


def pq(path):
    """DuckDB scan of every parquet file under a directory."""
    return f"read_parquet('{path}/**/*.parquet')"


def scalar(con, sql):
    return con.execute(sql).fetchone()[0]


def rows(con, path):
    return scalar(con, f"SELECT count(*) FROM {pq(path)}")


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df) else df


def frames_equal(got, want):
    """None when equal after sorting columns and rows, else the first difference."""
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for c in g.columns:
        eq = (g[c] == w[c]) | (g[c].isna() & w[c].isna())
        if not eq.all():
            return f"column {c}: {int((~eq).sum())} rows differ"
    return None


def content_hash(con, path):
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {pq(path)}").fetchall()]
    sel = ", ".join(f'"{c}"' for c in sorted(cols))
    return scalar(con, f"SELECT md5(coalesce(string_agg(s, chr(10) ORDER BY s), '')) FROM "
                       f"(SELECT CAST(t AS VARCHAR) s FROM (SELECT {sel} FROM {pq(path)}) t)")


def need(cond, why):
    if not cond:
        raise AssertionError(why)


def has_line(lines, want):
    need(want in lines, f"missing line {want!r}; got {lines[-3:]!r}")


class Topic:
    """What the stream verbs must report for the generated events topic."""

    def __init__(self, con):
        self.total, self.live, self.malformed = con.execute("""
            SELECT count(*), count(*) FILTER (event_type <> 'error'),
                   count(*) FILTER (event_type <> 'error'
                                    AND NOT regexp_matches(props, '"k": [0-9]+'))
            FROM events""").fetchone()
        # compaction keeps each key's latest record unless it is a tombstone
        self.compacted = sorted(con.execute("""
            SELECT user_id, max(event_id) FROM events GROUP BY user_id
            HAVING arg_max(event_type, event_id) <> 'error'""").fetchall())

    def check(self, con, name, lines, out):
        live, mal = self.live, self.malformed
        if name == "stream-merge-all":
            has_line(lines, f"Successfully processed records: {live} merged, {live} purged")
            need(rows(con, out + "/produced") == 2 * live, "produced rows != 2 x live records")
        elif name == "stream-dlq":
            has_line(lines, f"Routed {mal} record(s) to 'events.dlq'")
            need(rows(con, out + "/dlq") == mal, "dlq sink rows")
            need(rows(con, out + "/clean") == self.total - mal, "clean sink rows")
        elif name == "stream-compact":
            # replay the changelog: per key the last change wins
            final = con.execute(f"""
                SELECT CAST(key AS BIGINT), max("offset") FROM {pq(out + '/changelog')}
                GROUP BY key HAVING arg_max(live, "offset") ORDER BY 1""").fetchall()
            need(final == self.compacted,
                 "replayed changelog != latest live record per key")
            up, dl = con.execute(f"""SELECT count(*) FILTER (live), count(*) FILTER (NOT live)
                                     FROM {pq(out + '/changelog')}""").fetchone()
            has_line(lines, f"Emitted {up + dl} change(s) to 'events.compacted': "
                            f"{up} upsert(s), {dl} delete(s)")
        else:
            raise AssertionError(f"no check for {name}")


def check(res, in_dir, work):
    """One verdict per op run: {"ok", "why", "units"}; units are the
    op's micro-batches for stream verbs, else 1."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(1, os.cpu_count() or 1)}")
    con.execute(f"SET temp_directory = '{work}/duckdb-tmp'")
    for t in ("events", "documents"):
        if os.path.isdir(f"{in_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {pq(f'{in_dir}/{t}.parquet')}")
    topic = Topic(con) if res["workload"] == "topic_stream" else None
    oracle = res["oracle_sql"]
    batches = {}
    for b in res["batches"]:
        batches[b["op"]] = batches.get(b["op"], 0) + 1
    first_hash = {}
    verdicts = []
    for r in res["ops"]:
        name, out = r["name"], r["out"]
        v = {"ok": True, "why": "", "units": max(1, batches.get(r["span"], 0))}
        try:
            need(r["code"] == 0, f"exit code {r['code']}: {r['lines'][-2:]}")
            if topic:
                topic.check(con, name, r["lines"], out)
            elif name not in first_hash:
                first_hash[name] = content_hash(con, out)
                err = frames_equal(con.execute(f"SELECT * FROM {pq(out)}").df(),
                                   con.execute(oracle[name]).df())
                need(err is None, f"oracle mismatch: {err}")
            else:
                need(content_hash(con, out) == first_hash[name],
                     "output differs from the first pass")
        except Exception as ex:  # noqa: BLE001 - any failure is a failed op
            v.update(ok=False, why=f"{name} pass {r['pass']}: {ex}"[:300])
        verdicts.append(v)
    res["seams"] = seams(con, res)
    return verdicts


def seams(con, res):
    """Produced records, tombstones and DLQ-routed records per traced pass,
    counted in the sinks."""
    traced = [r for r in res["ops"] if r["mode"] == "traced" and r["code"] == 0]
    n = max(1, len({r["pass"] for r in traced}))
    out = {"produced_rows": 0, "tombstones": 0, "dlq_rows": 0}
    for r in traced:
        prod, dlq = r["out"] + "/produced", r["out"] + "/dlq"
        if os.path.isdir(prod):
            out["produced_rows"] += rows(con, prod)
            out["tombstones"] += scalar(con, f"SELECT count(*) FROM {pq(prod)} "
                                             f"WHERE kind = 'purge'")
        if os.path.isdir(dlq):
            out["dlq_rows"] += rows(con, dlq)
    return {k: v / n for k, v in out.items()}
