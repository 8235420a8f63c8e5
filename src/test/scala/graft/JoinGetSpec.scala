package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the CH joinGet contract and the builder cache:
  * - `joinGet` returns the value TYPE's default on a missing key
  *   (join_use_nulls off — the CH default) [ClickHouse docs:
  *   sql-reference/functions/other-functions#joinget];
  * - `joinGetOrNull` is the NULL-returning spelling;
  * - the collected lookup map is cached per (session, table, column,
  *   plan fingerprint) in the session's [[SessionCache]]:
  *   re-analyzing queries must NOT re-collect.
  */
class JoinGetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("joinGet defaults on miss; joinGetOrNull returns NULL; numeric default is 0") {
    Graft.init(spark, "/root/testdata/sf0.001")
    val r = Graft.sql(spark,
      "SELECT joinGet('region', 'r_name', 0) AS hit, " +
        "joinGet('region', 'r_name', 99) AS miss, " +
        "joinGetOrNull('region', 'r_name', 99) AS missNull, " +
        "joinGet('nation', 'n_regionkey', 9999) AS missNum").head()
    assert(r.getString(0) == "AFRICA")
    assert(r.getString(1) == "")          // string default, CH-faithful
    assert(r.isNullAt(2))                 // OrNull spelling
    assert(String.valueOf(r.get(3)) == "0") // numeric default (source int width)
  }

  test("the collected map is cached — a repeat query triggers no rebuild") {
    Graft.init(spark, "/root/testdata/sf0.001")
    // prime the (region, r_name) entry
    Graft.sql(spark, "SELECT joinGet('region', 'r_name', 1) AS x").head()
    val primed = SessionCache(spark).builds("joinGet")
    Graft.sql(spark, "SELECT joinGet('region', 'r_name', 2) AS x").head()
    Graft.sql(spark, "SELECT joinGetOrNull('region', 'r_name', 3) AS x").head()
    assert(SessionCache(spark).builds("joinGet") == primed,
      "joinGet re-collected a table the cache should have served")
  }
}
