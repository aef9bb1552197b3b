"""Correctness gate: checks a run's outputs against DuckDB oracles.

The oracle texts come from the program itself (exported at build time by
perfbench.Export): `SparkEntry.oracleSql`, `Oracles.parsedCte` and
`Transcripts.toolDimCte`.
For generated turns the events-derivation prefix is replaced by a
`transcripts` view over the generated files, so the same SELECTs run over
exactly the input the program received.

Each check returns (ok, details). `tamper` adds one to an expected count so
the self-test can prove a wrong output is caught.
"""
import collections
import glob
import os

import duckdb


def oracle(texts, name):
    sql = texts["oracle_sql"].get(name)
    if sql is None:
        raise ValueError(f"no oracle for {name}")
    return sql


def rebase(texts, name):
    """The oracle for `name` over a `transcripts` view instead of events."""
    sql = oracle(texts, name)
    prefix = texts["with_all"]
    if not sql.startswith(prefix):
        raise ValueError(f"oracle {name} does not start with the shared prefix")
    return ("WITH " + texts["tool_dim_cte"] + "," + texts["parsed_cte"] + " "
            + sql[len(prefix):])


TURN_COLUMNS = "conv_id, turn_idx, role, text, tool, ts"


def _parquet_view(con, path_glob):
    con.execute(f"CREATE OR REPLACE VIEW transcripts AS SELECT {TURN_COLUMNS} "
                f"FROM read_parquet('{path_glob}')")


def _lines(out_dir):
    lines = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            lines.extend(l.rstrip("\n") for l in fh)
    return lines


def render(rec, texts, input_dir, tamper):
    g = rec["gate"]
    con = duckdb.connect()
    con.execute(
        "CREATE OR REPLACE VIEW transcripts AS SELECT conv_id, turn_idx, role, "
        "text, tool, CAST(ts AS TIMESTAMP) AS ts FROM read_json("
        f"'{os.path.join(input_dir, 'data', '*.json')}', format='newline_delimited', "
        "columns={conv_id: 'VARCHAR', turn_idx: 'INTEGER', role: 'VARCHAR', "
        "text: 'VARCHAR', tool: 'VARCHAR', ts: 'TIMESTAMPTZ'})")
    def stmts(names):
        c = collections.Counter()
        for n in names:
            c.update(r[0] for r in con.sql(rebase(texts, n)).select("stmt").fetchall())
        return c

    dml_want = stmts(["p5_render_insert", "p6_render_update", "p7_render_delete",
                      "p16_child_inserts"])
    ddl_want = stmts(["p9_ddl_schemas", "p10_ddl_tables", "p11_ddl_alter"])
    if tamper:
        dml_want["DELETE FROM tamper;"] += 1
    lines = _lines(g["out"])
    is_ddl = [l.startswith(("CREATE ", "ALTER ")) for l in lines]
    ddl_got = collections.Counter(l for l, d in zip(lines, is_ddl) if d)
    dml_got = collections.Counter(l for l, d in zip(lines, is_ddl) if not d)
    last_ddl = max((i for i, d in enumerate(is_ddl) if d), default=-1)
    first_dml = min((i for i, d in enumerate(is_ddl) if not d), default=len(lines))
    # child-table DDL has no oracle of its own: every child CREATE/ALTER must
    # name a table the child-insert oracle writes to, once
    child_tables = {s.split(" ")[2] for s in dml_want if s.startswith("INSERT INTO ")
                    and s.split(" ")[2].endswith("_tags")}
    extra_ddl = ddl_got - ddl_want
    child_ok = all(n == 1 and s.split(" ")[2 if s.startswith("ALTER") else 5] in child_tables
                   for s, n in extra_ddl.items())
    checks = {
        "dml_multiset": dml_got == dml_want,
        "ddl_covers_oracle": not (ddl_want - ddl_got),
        "child_ddl_only_extra": child_ok,
        "ddl_before_dml": last_ddl < first_dml,
        "count_matches_sink": g["stmts"] == len(lines),
        "repeats_agree": g["stmts_consistent"],
    }
    return all(checks.values()), dict(checks, lines=len(lines), child_ddl=sum(extra_ddl.values()))


def resume(rec, texts, input_dir, tamper):
    g = rec["gate"]
    con = duckdb.connect()
    _parquet_view(con, os.path.join(input_dir, "slices", "*", "*.parquet"))
    con.execute("CREATE VIEW late AS SELECT conv_id, turn_idx FROM "
                f"read_parquet('{os.path.join(input_dir, 'late.parquet')}')")
    con.execute(f"CREATE VIEW sink AS SELECT conv_id, turn_idx, sink FROM read_parquet("
                f"'{g['sink']}/**/*.parquet', hive_partitioning = true)")
    p4 = rebase(texts, "p4_route_counts")
    want = dict(con.sql(p4).select("sink, n").fetchall())
    # the oracle's routed rows, keyed, to find what the sink is missing
    routed = ("WITH " + texts["tool_dim_cte"] + "," + texts["parsed_cte"]
              + " SELECT conv_id, turn_idx, (CASE op WHEN 'INS' THEN 'ins' WHEN 'UPD' "
              "THEN 'upd' ELSE 'del' END) || '_' || tool_kind AS sink "
              "FROM valid JOIN tool_dim USING (tool)")
    con.execute(f"CREATE TABLE want_rows AS {routed}")
    routed_counts = dict(con.sql("SELECT sink, count(*) FROM want_rows GROUP BY 1").fetchall())
    dup = con.sql("SELECT count(*) FROM (SELECT conv_id, turn_idx FROM sink "
                  "GROUP BY 1, 2 HAVING count(*) > 1)").fetchone()[0]
    wrong = con.sql("SELECT count(*) FROM sink s ANTI JOIN want_rows w "
                    "USING (conv_id, turn_idx, sink)").fetchone()[0]
    con.execute("CREATE TABLE missing AS SELECT * FROM want_rows w ANTI JOIN sink s "
                "USING (conv_id, turn_idx)")
    lost = con.sql("SELECT count(*) FROM missing").fetchone()[0]
    lost_not_late = con.sql("SELECT count(*) FROM missing m ANTI JOIN late l "
                            "USING (conv_id, turn_idx)").fetchone()[0]
    got = dict(con.sql("SELECT sink, count(*) FROM (SELECT sink FROM sink UNION ALL "
                       "SELECT sink FROM missing) GROUP BY 1").fetchall())
    if tamper:
        k = sorted(want)[0]
        want[k] += 1
    delivered_valid = sum(want.values())
    checks = {
        "oracle_routes_agree": routed_counts == dict(con.sql(p4).select("sink, n").fetchall()),
        "sink_plus_lost_equals_oracle": got == want,
        "no_duplicate_commits": dup == 0,
        "sink_rows_routed_right": wrong == 0,
        "only_late_turns_lost": lost_not_late == 0,
        "repeats_agree": g["committed_consistent"],
    }
    return all(checks.values()), dict(checks, delivered_valid=delivered_valid,
                                      lost_turns=lost, fail_ratio=lost / delivered_valid)


def queries(rec, texts, data_dir, tamper):
    g = rec["gate"]
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    got = {k: int(v) for k, v in g["rows"].items()}
    want = {}
    for name in rec["oracles"]:
        want[name] = con.sql(f"SELECT count(*) FROM ({oracle(texts, name)})").fetchone()[0]
    if tamper:
        k = sorted(want)[0]
        want[k] += 1
    bad = sorted(k for k in want if got.get(k) != want[k])
    return not bad and g["consistent"], {"queries": len(want), "mismatched": bad,
                                         "repeats_agree": g["consistent"]}


def check(rec, texts, input_dir, tamper):
    """Run the workload's checks; `input_dir` is what the program read."""
    fn = {"render": render, "resume": resume, "queries": queries}
    return fn[rec["workload"]](rec, texts, input_dir, tamper)
