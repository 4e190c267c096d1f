package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the `AS MATERIALIZED` rewriter against every SQL shape that
  * appears in the oracle catalog (round-9 verdict item 1). The
  * end-to-end proof is tools/check.py over the full catalog; this spec
  * guards the tokenizer/state-machine edges that a blind regex would
  * corrupt. */
class OracleSqlSpec extends AnyFunSuite {
  import OracleSql.materializeCtes

  test("simple CTE gets materialized") {
    assert(materializeCtes("WITH t AS (SELECT 1 AS x) SELECT * FROM t") ===
      "WITH t AS MATERIALIZED (SELECT 1 AS x) SELECT * FROM t")
  }

  test("chained CTEs each get materialized") {
    val in = "WITH a AS (SELECT 1 x), b AS (SELECT x+1 y FROM a) SELECT * FROM b JOIN a ON true"
    val out = materializeCtes(in)
    assert(out.contains("a AS MATERIALIZED (SELECT 1 x)"))
    assert(out.contains("b AS MATERIALIZED (SELECT x+1 y FROM a)"))
  }

  test("column-list CTE form name(cols) AS (...)") {
    assert(materializeCtes("WITH t(a, b) AS (SELECT 1, 2) SELECT a+b FROM t") ===
      "WITH t(a, b) AS MATERIALIZED (SELECT 1, 2) SELECT a+b FROM t")
  }

  test("WITH RECURSIVE — both the recursive member and siblings") {
    val in = "WITH RECURSIVE base AS (SELECT 1 AS x), " +
      "t(x) AS (SELECT x FROM base UNION ALL SELECT x+1 FROM t WHERE x<3) " +
      "SELECT sum(x) FROM t"
    val out = materializeCtes(in)
    assert(out.contains("base AS MATERIALIZED (SELECT 1 AS x)"))
    assert(out.contains("t(x) AS MATERIALIZED (SELECT x FROM base"))
  }

  test("WINDOW clause is never touched") {
    val in = "WITH t AS (SELECT 1 x) SELECT sum(x) OVER w FROM t WINDOW w AS (ORDER BY x)"
    val out = materializeCtes(in)
    assert(out.contains("WINDOW w AS (ORDER BY x)"))
    assert(out.contains("t AS MATERIALIZED (SELECT 1 x)"))
    assert(!out.contains("w AS MATERIALIZED"))
  }

  test("WINDOW clause inside a CTE body is never touched") {
    val in = "WITH t AS (SELECT x, row_number() OVER w AS r FROM s WINDOW w AS (ORDER BY x)), " +
      "u AS (SELECT * FROM t) SELECT * FROM u"
    val out = materializeCtes(in)
    assert(out.contains("t AS MATERIALIZED (SELECT x"))
    assert(out.contains("u AS MATERIALIZED (SELECT * FROM t)"))
    assert(out.contains("WINDOW w AS (ORDER BY x)"))
  }

  test("already-materialized CTE untouched; siblings still rewritten (idempotence)") {
    val in = "WITH a AS MATERIALIZED (SELECT 1 x), b AS (SELECT x FROM a) SELECT * FROM b"
    val out = materializeCtes(in)
    assert(out.contains("a AS MATERIALIZED (SELECT 1 x)"))
    assert(!out.contains("MATERIALIZED MATERIALIZED"))
    assert(out.contains("b AS MATERIALIZED (SELECT x FROM a)"))
    assert(materializeCtes(out) === out)
  }

  test("NOT MATERIALIZED is respected") {
    val in = "WITH a AS NOT MATERIALIZED (SELECT 1 x) SELECT * FROM a"
    assert(materializeCtes(in) === in)
  }

  test("nested WITH in a subquery body") {
    val in = "WITH outer_t AS (SELECT * FROM (WITH inner_t AS (SELECT 1 x) SELECT x FROM inner_t) s) SELECT * FROM outer_t"
    val out = materializeCtes(in)
    assert(out.contains("outer_t AS MATERIALIZED (SELECT"))
    assert(out.contains("inner_t AS MATERIALIZED (SELECT 1 x)"))
  }

  test("string literals and comments with parens/AS are opaque") {
    val in = "WITH t AS (SELECT 'a AS (b)' AS s, '(it''s)' AS u -- c AS (\n) SELECT * FROM t"
    val out = materializeCtes(in)
    assert(out === in.replaceFirst("t AS \\(", "t AS MATERIALIZED ("))
  }

  test("no WITH — untouched, including CAST/alias AS") {
    val in = "SELECT CAST(x AS BIGINT) AS y FROM (SELECT 1 x) AS t(x)"
    assert(materializeCtes(in) === in)
  }

  test("keyword case-insensitive") {
    val out = materializeCtes("with t as (select 1 x) select * from t")
    assert(out === "with t as MATERIALIZED (select 1 x) select * from t")
  }

  test("a CTE name defined twice (nested-WITH shadowing) stays plain everywhere") {
    // DuckDB 1.0 binds materialized CTE names globally per statement:
    // duplicate materialized names raise Binder errors and a plain inner
    // definition under a materialized outer one mis-binds. Both
    // definitions must stay plain; non-shadowed siblings still fence.
    val in = "WITH s AS (SELECT 1 x), t AS (WITH s AS (SELECT 2 y) SELECT y FROM s) " +
      "SELECT x, (SELECT y FROM t) FROM s"
    val out = materializeCtes(in)
    assert(!out.contains("s AS MATERIALIZED"))
    assert(out.contains("t AS MATERIALIZED (WITH s AS (SELECT 2 y)"))
  }

  test("full catalog: every multiply-referenced top-level CTE is fenced") {
    // The real gate: after assembly, no oracle may contain an
    // unmaterialized CTE definition. Cheap structural scan: each
    // `WITH`/`,`-level `name [ (cols) ] AS (` must read AS MATERIALIZED
    // or AS NOT MATERIALIZED after the rewrite. We verify by
    // idempotence: re-running the rewriter inserts nothing.
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(materializeCtes(sql) === sql, s"$name not fully materialized")
      if (sql.toUpperCase.contains("WITH "))
        assert(sql.contains("MATERIALIZED"), s"$name has WITH but no MATERIALIZED")
    }
  }

  test("full catalog: every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.nonEmpty)
    assert(oracles == queries,
      s"no oracle: ${(queries -- oracles).toSeq.sorted}; no query: ${(oracles -- queries).toSeq.sorted}")
  }
}
