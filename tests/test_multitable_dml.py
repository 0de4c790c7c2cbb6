"""Multi-table DML (SQLCOM_UPDATE_MULTI / DELETE_MULTI analog), REPLACE
and ON DUPLICATE KEY degradation on keyless tables, and the reference's
unsupported-index DDL rejection (`ha_calpont_ddl.cpp:1862`)."""

from __future__ import annotations

import os

import pytest

from infinidb_spark.dialect import DialectError
from infinidb_spark.session import InfiniSession


@pytest.fixture
def sess(spark, sf_dir):
    s = InfiniSession(spark, sf_dir)
    s.execute("CREATE TABLE m1 (id BIGINT, v BIGINT, tag VARCHAR(10))")
    s.execute(
        "INSERT INTO m1 VALUES (0,10,'a'), (1,20,'b'), (2,30,'c'), (99,40,'d')"
    )
    return s


def test_update_join_sets_from_matched_row(sess):
    n = sess.execute(
        "UPDATE m1 a JOIN region r ON a.id = r.r_regionkey "
        "SET a.tag = r.r_name, a.v = a.v + r.r_regionkey "
        "WHERE r.r_regionkey < 2"
    )
    assert n == 2
    rows = {r.id: (r.v, r.tag) for r in sess.execute("SELECT * FROM m1").collect()}
    assert rows[0] == (10, "AFRICA")
    assert rows[1] == (21, "AMERICA")
    assert rows[2] == (30, "c")  # matched but WHERE-filtered
    assert rows[99] == (40, "d")  # no join match


def test_update_join_unqualified_set_column(sess):
    # SET with a bare target column, values from the join table
    n = sess.execute(
        "UPDATE m1 JOIN region ON m1.id = region.r_regionkey "
        "SET tag = region.r_name"
    )
    assert n == 3
    rows = {r.id: r.tag for r in sess.execute("SELECT * FROM m1").collect()}
    assert rows[99] == "d"
    assert rows[0] == "AFRICA"


def test_delete_join(sess):
    n = sess.execute(
        "DELETE a FROM m1 a JOIN region r ON a.id = r.r_regionkey "
        "WHERE r.r_regionkey >= 2"
    )
    assert n == 1
    ids = {r.id for r in sess.execute("SELECT * FROM m1").collect()}
    assert ids == {0, 1, 99}


def test_delete_join_requires_target_ref(sess):
    with pytest.raises(DialectError):
        sess.execute(
            "DELETE r FROM m1 a JOIN region r ON a.id = r.r_regionkey"
        )


def test_update_alias_no_join(sess):
    n = sess.execute("UPDATE m1 a SET a.v = 0 WHERE a.id = 99")
    assert n == 1
    rows = {r.id: r.v for r in sess.execute("SELECT * FROM m1").collect()}
    assert rows[99] == 0


def test_multitable_on_condition_bounded(sess):
    with pytest.raises(DialectError):
        sess.execute(
            "UPDATE m1 a JOIN region r ON a.id < r.r_regionkey SET a.v = 0"
        )


def test_replace_degrades_to_insert(sess):
    # no unique keys → MySQL-documented REPLACE ≡ INSERT
    assert sess.execute("REPLACE INTO m1 VALUES (7, 70, 'x')") == 1
    assert sess.execute("SELECT count(*) AS c FROM m1").collect()[0].c == 5


def test_on_duplicate_key_clause_dropped(sess):
    assert sess.execute(
        "INSERT INTO m1 VALUES (8, 80, 'y') ON DUPLICATE KEY UPDATE v = 0"
    ) == 1
    rows = {r.id: r.v for r in sess.execute("SELECT * FROM m1").collect()}
    assert rows[8] == 80


def test_on_duplicate_words_not_truncated_mid_statement():
    """A join/where that merely produces the word sequence ON …
    DUPLICATE … KEY … UPDATE (non-adjacent, or below paren depth 0)
    must NOT truncate the statement; the real trailing clause must."""
    from infinidb_spark.dialect import _strip_on_duplicate, tokenize

    # non-adjacent words (syms between): old word-list scan truncated here
    sql = (
        "INSERT INTO t SELECT a.id FROM a JOIN b "
        "ON a.duplicate = b.key WHERE b.update_ts > 0"
    )
    toks = tokenize(sql)
    assert _strip_on_duplicate(toks) == toks
    # unqualified bare columns, still separated by '=' → keep
    sql2 = "INSERT INTO t SELECT id FROM a JOIN b ON duplicate = key"
    toks2 = tokenize(sql2)
    assert _strip_on_duplicate(toks2) == toks2
    # adjacent but inside parens (subquery alias scope) → keep
    sql3 = "INSERT INTO t SELECT * FROM (SELECT 1 AS x /* ON DUPLICATE KEY UPDATE */) q"
    toks3 = tokenize(sql3)
    assert _strip_on_duplicate(toks3) == toks3
    # the genuine clause, adjacent at depth 0 → stripped
    sql4 = "INSERT INTO t VALUES (1) ON DUPLICATE KEY UPDATE v = 0"
    toks4 = tokenize(sql4)
    stripped = _strip_on_duplicate(toks4)
    text = "".join(t[1] for t in stripped if t[0] != "ws")
    assert "DUPLICATE" not in text.upper()


@pytest.mark.parametrize("stmt", [
    "CREATE INDEX i1 ON m1 (id)",
    "CREATE UNIQUE INDEX i2 ON m1 (id)",
    "ALTER TABLE m1 ADD INDEX (v)",
    "ALTER TABLE m1 ADD KEY k1 (v)",
    "ALTER TABLE m1 ADD PRIMARY KEY (id)",
    "ALTER TABLE m1 ADD UNIQUE (id)",
    "ALTER TABLE m1 DROP INDEX i1",
    "DROP INDEX i1 ON m1",
])
def test_index_ddl_rejected_with_reference_message(sess, stmt):
    with pytest.raises(DialectError, match="not supported by InfiniDB"):
        sess.execute(stmt)


# --- review findings: silent wrong-result spellings must parse or raise


def test_delete_dot_star_spelling(sess):
    """DELETE t.* FROM t JOIN ... is the most common multi-table DELETE
    spelling — it must behave exactly like DELETE t FROM t JOIN ...,
    never fall through to an unconditional single-table DELETE."""
    sess.execute("CREATE TABLE ds (id BIGINT, v BIGINT)")
    sess.execute("INSERT INTO ds VALUES (0, 1), (1, 2), (99, 3)")
    n = sess.execute(
        "DELETE ds.* FROM ds JOIN region r ON ds.id = r.r_regionkey "
        "WHERE r.r_regionkey = 0"
    )
    assert n == 1
    assert {r.id for r in sess.execute("SELECT * FROM ds").collect()} == {1, 99}


def test_delete_using_spelling(sess):
    sess.execute("CREATE TABLE du (id BIGINT, v BIGINT)")
    sess.execute("INSERT INTO du VALUES (0, 1), (1, 2), (99, 3)")
    n = sess.execute(
        "DELETE FROM du USING du JOIN region r ON du.id = r.r_regionkey"
    )
    assert n == 2
    assert {r.id for r in sess.execute("SELECT * FROM du").collect()} == {99}


def test_left_join_update_has_outer_semantics(spark, sf_dir):
    """MySQL LEFT JOIN UPDATE updates EVERY target row; unmatched rows
    read NULL for the join table's columns."""
    s = InfiniSession(spark, sf_dir)
    s.execute("CREATE TABLE lu (id BIGINT, tag VARCHAR(16))")
    s.execute("INSERT INTO lu VALUES (0, 'x'), (99, 'x')")
    n = s.execute(
        "UPDATE lu LEFT JOIN region r ON lu.id = r.r_regionkey "
        "SET lu.tag = coalesce(r.r_name, 'UNMATCHED')"
    )
    assert n == 2  # both rows qualify under LEFT semantics
    rows = {r.id: r.tag for r in s.execute("SELECT * FROM lu").collect()}
    assert rows[0] == "AFRICA" and rows[99] == "UNMATCHED"


def test_left_join_delete_anti_join_purge(spark, sf_dir):
    """The classic orphan purge: DELETE t FROM t LEFT JOIN o ON ...
    WHERE o.k IS NULL removes exactly the unmatched rows."""
    s = InfiniSession(spark, sf_dir)
    s.execute("CREATE TABLE ld (id BIGINT, v BIGINT)")
    s.execute("INSERT INTO ld VALUES (0, 1), (1, 2), (98, 3), (99, 4)")
    n = s.execute(
        "DELETE ld FROM ld LEFT JOIN region r ON ld.id = r.r_regionkey "
        "WHERE r.r_regionkey IS NULL"
    )
    assert n == 2
    assert {r.id for r in s.execute("SELECT * FROM ld").collect()} == {0, 1}


def test_right_join_update_folds_to_inner(spark, sf_dir):
    """RIGHT JOIN UPDATE on the target: unmatched target rows do not
    appear on the preserved side — equivalent to INNER for the target."""
    s = InfiniSession(spark, sf_dir)
    s.execute("CREATE TABLE ru (id BIGINT, v BIGINT)")
    s.execute("INSERT INTO ru VALUES (0, 1), (99, 2)")
    n = s.execute(
        "UPDATE ru RIGHT JOIN region r ON ru.id = r.r_regionkey SET ru.v = 0"
    )
    assert n == 1
    rows = {r.id: r.v for r in s.execute("SELECT * FROM ru").collect()}
    assert rows == {0: 0, 99: 2}


def test_unsupported_join_types_rejected(sess):
    from infinidb_spark.dialect import parse_statement

    for stmt in (
        "UPDATE m1 CROSS JOIN region ON m1.id = region.r_regionkey SET m1.v = 1",
        "DELETE t FROM m1 t FULL JOIN region r ON t.id = r.r_regionkey",
    ):
        with pytest.raises(DialectError, match="does not support"):
            parse_statement(stmt)


def test_unparseable_delete_tail_raises_not_truncates(sess):
    """A DELETE whose tail the parser does not understand must raise —
    silently dropping the tail would delete every row."""
    from infinidb_spark.dialect import parse_statement

    with pytest.raises(DialectError):
        parse_statement("DELETE FROM m1 alias_without_join")


def test_descriptive_comment_is_not_autoincrement(spark, sf_dir):
    """A comment merely CONTAINING 'autoincrement' is not the marker."""
    s = InfiniSession(spark, sf_dir)
    s.execute(
        "CREATE TABLE nc (id INT COMMENT 'autoincrement disabled; app-managed', v INT)"
    )
    assert s._table_meta["nc"]["auto_inc"] is None
    s.execute(
        "CREATE TABLE nc2 (id INT COMMENT 'no autoincrement, app-managed')"
    )
    assert s._table_meta["nc2"]["auto_inc"] is None


def test_auto_increment_option_before_comment(spark, sf_dir):
    """mysqldump emits AUTO_INCREMENT=N before COMMENT='autoincrement=
    col' — the start value must survive the ordering."""
    s = InfiniSession(spark, sf_dir)
    s.execute(
        "CREATE TABLE ao (id BIGINT, v BIGINT) ENGINE=InfiniDB "
        "AUTO_INCREMENT=500 COMMENT='autoincrement=id'"
    )
    s.execute("INSERT INTO ao (v) VALUES (1)")
    assert s.execute("SELECT * FROM ao").collect()[0].id == 500


def test_dml_rewrites_keep_compression_codec(spark, sf_dir):
    """COMMENT='compression=0' must survive UPDATE/DELETE rewrites, not
    just INSERTs."""
    import glob
    import os

    import pyarrow.parquet as pq

    s = InfiniSession(spark, sf_dir)
    s.execute("CREATE TABLE ck (id BIGINT, v BIGINT) COMMENT='compression=0'")
    s.execute("INSERT INTO ck VALUES (1, 10), (2, 20), (3, 30)")
    s.execute("UPDATE ck SET v = v + 1 WHERE id = 1")
    s.execute("DELETE FROM ck WHERE id = 3")
    s.execute(
        "UPDATE ck a JOIN region r ON a.id = r.r_regionkey SET a.v = 0"
    )
    # ALTER rewrites must keep the codec too (review finding: they
    # silently reverted to snappy before codec was threaded through)
    s.execute("ALTER TABLE ck ADD note VARCHAR(10) DEFAULT 'x'")
    s.execute("ALTER TABLE ck MODIFY v BIGINT")
    # and so must OPTIMIZE's compaction rewrite
    assert s.execute("OPTIMIZE TABLE ck").collect()[0].Msg_type == "status"
    real = os.path.realpath(s._managed["ck"])
    codecs = set()
    for f in glob.glob(os.path.join(real, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            codecs.add(md.row_group(rg).column(0).compression)
    assert codecs == {"UNCOMPRESSED"}


def test_update_join_existential_where_duplicate_keys(sess):
    """Statement-level pin of the existential match contract: with
    duplicate join keys in the other table, a target row updates when
    ANY matching row satisfies the WHERE, and SET values come from a
    QUALIFYING row (not a lexicographically-pinned non-qualifying one)."""
    sess.execute("CREATE TABLE dupo (k BIGINT, c BIGINT)")
    sess.execute("INSERT INTO dupo VALUES (0, 1), (0, 5), (1, 1), (99, 2)")
    n = sess.execute(
        "UPDATE m1 a JOIN dupo o ON a.id = o.k SET a.v = o.c WHERE o.c = 5"
    )
    assert n == 1
    rows = {r.id: r.v for r in sess.execute("SELECT * FROM m1").collect()}
    # id=0 matched the (0,5) row — the pinned-least (0,1) would have
    # skipped it under the old per-pinned-row WHERE evaluation
    assert rows[0] == 5
    assert rows[1] == 20 and rows[99] == 40  # their rows fail the WHERE


def test_delete_join_existential_where_duplicate_keys(sess):
    sess.execute("CREATE TABLE dupd (k BIGINT, c BIGINT)")
    sess.execute("INSERT INTO dupd VALUES (1, 0), (1, 7), (2, 0)")
    n = sess.execute(
        "DELETE a FROM m1 a JOIN dupd o ON a.id = o.k WHERE o.c = 7"
    )
    assert n == 1
    ids = {r.id for r in sess.execute("SELECT * FROM m1").collect()}
    assert ids == {0, 2, 99}


def test_dml_where_and_set_with_bit_ops(sess):
    """Bit ops flow through parse_statement too: a WHERE flag mask and
    a SET computing a uint64 value must use 64-bit unsigned semantics
    (the DML path shares translate's pre-passes)."""
    sess.execute("CREATE TABLE bm (id BIGINT, flags BIGINT, v BIGINT)")
    sess.execute("INSERT INTO bm VALUES (1, 5, 0), (2, 2, 0), (3, 7, 0)")
    # WHERE flags & 1 — boolean context over a bit expression
    n = sess.execute("UPDATE bm SET v = flags | 8 WHERE flags & 1")
    assert n == 2
    rows = {r.id: int(r.v) for r in sess.execute("SELECT * FROM bm").collect()}
    assert rows == {1: 13, 2: 0, 3: 15}
    n2 = sess.execute("DELETE FROM bm WHERE flags >> 1 = 1")
    assert n2 == 1  # only flags=2 shifts to 1 (5>>1=2, 7>>1=3)
    left = sorted(r.id for r in sess.execute("SELECT * FROM bm").collect())
    assert left == [1, 3]



def _file_bytes(root):
    out = {}
    for dirpath, _, files in os.walk(os.path.realpath(root)):
        for f in files:
            with open(os.path.join(dirpath, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, f), os.path.realpath(root))] = fh.read()
    return out


@pytest.mark.parametrize("stmt", [
    "UPDATE m1 SET v = 0 WHERE",
    "DELETE FROM m1 WHERE",
    "DELETE FROM m1 WHERE /* nothing */",
    "UPDATE m1 a JOIN region r ON a.id = r.r_regionkey SET a.v = 0 WHERE",
    "DELETE a FROM m1 a JOIN region r ON a.id = r.r_regionkey WHERE",
])
def test_empty_where_is_a_syntax_error_and_writes_nothing(sess, stmt):
    """A WHERE with no condition is MySQL's error 1064, never a filter
    that matches every row: the statement is rejected before it runs and
    the table's files are byte-identical afterwards."""
    path = sess._managed["m1"]
    before = (os.path.realpath(path), _file_bytes(path))
    with pytest.raises(DialectError, match="WHERE"):
        sess.execute(stmt)
    assert sess.execute("SHOW ERRORS").collect()[0][1] == 1064
    assert (os.path.realpath(path), _file_bytes(path)) == before
    assert sess.execute("SELECT COUNT(*) FROM m1 WHERE v > 0").collect()[0][0] == 4


@pytest.mark.parametrize("stmt", [
    "SELECT * FROM m1 WHERE",
    "SELECT * FROM m1 WHERE;",
    "SELECT v, COUNT(*) FROM m1 GROUP BY",
    "SELECT v, COUNT(*) FROM m1 GROUP BY v HAVING",
    "SELECT * FROM m1 ORDER BY",
    "SELECT * FROM m1 LIMIT",
    "SELECT * FROM m1 a JOIN region r ON",
])
def test_select_ending_in_a_clause_keyword_is_a_syntax_error(sess, stmt):
    """A clause keyword with nothing after it is MySQL's error 1064: a
    bare trailing WHERE must not become an alias that returns every
    row."""
    with pytest.raises(DialectError, match="without an argument"):
        sess.execute(stmt)
    assert sess.execute("SHOW ERRORS").collect()[0][1] == 1064
