package graft

import org.apache.spark.sql.Row

import graft.derive.{Extractor, SqlTypes}
import graft.exec.{FactPopulate, Rollup, SqlEmit}
import graft.model._
import graft.model.Nullable._
import graft.model.TableConstraint._

/** Golden tests for the derivation layer, transcribed from the
  * reference's doctest outputs (`/root/reference/src/Ringo.hs:147-221`).
  * The plan-agreement test is the only one that starts Spark; it
  * analyses plans and runs no job.
  */
class DerivationSpec extends SparkSpec {
  import Fixtures.{ringoEnv => env}

  private def fact(n: String) = env.findFact(n).get

  private def colTriples(t: Table): Seq[(String, String, Nullable)] =
    t.columns.map(c => (c.name, c.columnType, c.nullable))

  test("extractFactTable fact_session_by_minute (Ringo.hs:147-155)") {
    val t = Extractor.extractFactTable(env, fact("session"))
    assert(t.name == "fact_session_by_minute")
    assert(colTriples(t) == Seq(
      ("created_at_minute_id", "bigint", NotNull),
      ("publisher_id", "integer", NotNull),
      ("session_count", "integer", NotNull),
      ("geo_id", "integer", NotNull),
      ("user_agent_id", "integer", NotNull)
    ))
    assert(t.constraints == Seq(UniqueKey(Seq(
      "created_at_minute_id", "publisher_id", "geo_id", "user_agent_id"))))
  }

  test("extractFactTable fact_page_view_by_minute (Ringo.hs:156-166)") {
    val t = Extractor.extractFactTable(env, fact("page_view"))
    assert(t.name == "fact_page_view_by_minute")
    assert(colTriples(t) == Seq(
      ("created_at_minute_id", "bigint", NotNull),
      ("publisher_id", "integer", NotNull),
      ("view_count", "integer", NotNull),
      ("referrer_id", "integer", NotNull),
      ("page_type_id", "integer", NotNull),
      ("geo_id", "integer", NotNull),
      ("user_agent_id", "integer", NotNull)
    ))
    assert(t.constraints == Seq(UniqueKey(Seq(
      "created_at_minute_id", "publisher_id", "referrer_id", "page_type_id",
      "geo_id", "user_agent_id"))))
  }

  test("extractDimensionTables session fact (Ringo.hs:172-186)") {
    val dims = Extractor.extractDimensionTables(env, fact("session"))
    assert(dims.map(_.name) == Seq("dim_geo", "dim_user_agent"))
    val geo = dims.head
    assert(colTriples(geo) == Seq(
      ("id", "serial", NotNull),
      ("country_name", "character varying(50)", NotNull),
      ("city_name", "character varying(50)", NotNull),
      ("continent_name", "character varying(15)", NotNull)
    ))
    assert(geo.constraints == Seq(
      PrimaryKey("id"), UniqueKey(Seq("country_name", "city_name", "continent_name"))))
    val ua = dims(1)
    assert(colTriples(ua) == Seq(
      ("id", "serial", NotNull),
      ("browser_name", "character varying(50)", NotNull),
      ("os", "character varying(50)", NotNull),
      ("name", "character varying(100)", NotNull)
    ))
    assert(ua.constraints == Seq(
      PrimaryKey("id"), UniqueKey(Seq("browser_name", "os", "name"))))
  }

  test("extractDimensionTables page_view fact incl. existing dim (Ringo.hs:188-195)") {
    val dims = Extractor.extractDimensionTables(env, fact("page_view"))
    // referrers resolves to the declared table; dim_page_type is derived
    assert(dims.map(_.name) == Seq("referrers", "dim_page_type"))
    val pt = dims(1)
    assert(colTriples(pt) == Seq(
      ("id", "serial", NotNull),
      ("page_type", "character varying(20)", NotNull)
    ))
    assert(pt.constraints == Seq(PrimaryKey("id"), UniqueKey(Seq("page_type"))))
  }

  test("extractAllDimensionTables dedups parent dims") {
    val all = Extractor.extractAllDimensionTables(env, fact("page_view"))
    assert(all.map(_._2.name) == Seq("referrers", "dim_page_type", "dim_geo", "dim_user_agent"))
    assert(all.map(_._1.name) == Seq("page_view", "page_view", "session", "session"))
  }

  test("extractDependencies session (Ringo.hs:201-208)") {
    val deps = Extractor.extractDependencies(env, fact("session"))
    assert(deps == Map(
      "dim_geo"                -> Seq("session_events"),
      "dim_user_agent"         -> Seq("session_events"),
      "fact_session_by_minute" -> Seq("session_events", "dim_user_agent", "dim_geo")
    ))
  }

  test("extractDependencies page_view (Ringo.hs:209-221)") {
    val deps = Extractor.extractDependencies(env, fact("page_view"))
    assert(deps == Map(
      "dim_page_type" -> Seq("page_view_events"),
      "fact_page_view_by_minute" -> Seq(
        "page_view_events", "session_events", "dim_page_type", "referrers",
        "dim_user_agent", "dim_geo")
    ))
  }

  test("topoOrder puts dims before facts, parents before children") {
    val order = Extractor.topoOrder(Extractor.allDependencies(env))
    def idx(s: String) = order.indexOf(s)
    assert(order.toSet == Set(
      "dim_geo", "dim_user_agent", "dim_page_type",
      "fact_session_by_minute", "fact_page_view_by_minute"))
    assert(idx("dim_geo") < idx("fact_session_by_minute"))
    assert(idx("dim_page_type") < idx("fact_page_view_by_minute"))
  }

  test("naming: serial family FK types (Extractor/Internal.hs:54-59)") {
    assert(Naming.idColTypeToFKIdColType("serial") == "integer")
    assert(Naming.idColTypeToFKIdColType("smallserial") == "smallint")
    assert(Naming.idColTypeToFKIdColType("bigserial") == "bigint")
    assert(Naming.idColTypeToFKIdColType("uuid") == "uuid")
  }

  test("naming: dim column prefix strip") {
    assert(Naming.dimColumnName("geo", "geo_country_name") == "country_name")
    assert(Naming.dimColumnName("user_agent", "os") == "os")
    assert(Naming.dimColumnName("user_agent", "user_agent_name") == "name")
  }

  test("non-default settings flow through naming and schemas") {
    val settings = Settings(
      dimPrefix = "d_", factPrefix = "f_", factInfix = "_per_",
      timeUnit = TimeUnit.Week, dimTableIdColumnName = "pk",
      dimTableIdColumnType = "bigserial", avgCountColumnSuffix = "_n",
      avgSumColumnSuffix = "_total")
    val customEnv = Validator.validateEnv(
      Fixtures.ringoTables, Fixtures.ringoFacts, settings, Fixtures.ringoTypeDefaults)
      .toOption.get
    val t = Extractor.extractFactTable(customEnv, customEnv.findFact("session").get)
    assert(t.name == "f_session_per_week")
    assert(t.columns.head.name == "created_at_week_pk")
    // derived dim fk columns use the custom id name/type mapping
    assert(t.columns.map(_.name).contains("geo_pk"))
    assert(t.columns.find(_.name == "geo_pk").get.columnType == "bigint") // bigserial->bigint
    val dims = Extractor.extractDimensionTables(customEnv, customEnv.findFact("session").get)
    assert(dims.map(_.name) == Seq("d_geo", "d_user_agent"))
    assert(dims.head.columns.head == Column("pk", "bigserial", Nullable.NotNull))
  }

  test("type defaults: first match in ascending key order (Generator/Internal.hs:32-36)") {
    val d = TypeDefaults(Map("timestamp" -> "'e'", "character" -> "'__UNKNOWN_VAL__'"))
    assert(d.forType("timestamp without time zone").contains("'e'"))
    assert(d.forType("character varying(50)").contains("'__UNKNOWN_VAL__'"))
    assert(d.forType("bigint").isEmpty)
    // when several prefixes match, the reference's `find` over
    // `Map.toList` takes the ascending-order first, NOT the longest
    val overlapping = TypeDefaults(Map(
      "timestamp without time zone" -> "'long'", "timestamp" -> "'short'"))
    assert(overlapping.forType("timestamp without time zone").contains("'short'"))
  }

  test("allDependencies union is left-biased like foldl Map.union (Main.hs:44-46)") {
    // two facts over different sources sharing the derived dim name:
    // the first fact's entry for dim_geo must win wholesale
    val tables = Seq(
      Table("a", Seq(
        Column("t", "timestamp without time zone", Nullable.NotNull),
        Column("geo_city", "text", Nullable.NotNull)), Nil),
      Table("b", Seq(
        Column("t", "timestamp without time zone", Nullable.NotNull),
        Column("geo_city", "text", Nullable.NotNull)), Nil))
    import graft.model.FactColumnKind._
    val facts = Seq(
      Fact("fa", "a", columns = Seq(FactColumn("t", DimTime), FactColumn("geo_city", DimVal("geo")))),
      Fact("fb", "b", columns = Seq(FactColumn("t", DimTime), FactColumn("geo_city", DimVal("geo")))))
    val e = Validator.validateEnv(tables, facts, Settings(), Fixtures.testTypeDefaults).toOption.get
    val deps = Extractor.allDependencies(e)
    assert(deps("dim_geo") == Seq("a")) // fa's entry, not merged with fb's
  }

  test("derived-dim columns nub before rename (Extractor/Internal.hs:83-86)") {
    // geo_city and city both rename to dim_geo.city after the prefix
    // strip; the reference nubs the ORIGINAL columns, so both survive
    val tables = Seq(
      Table("src", Seq(
        Column("t", "timestamp without time zone", Nullable.NotNull),
        Column("geo_city", "text", Nullable.NotNull),
        Column("city", "text", Nullable.NotNull)), Nil))
    import graft.model.FactColumnKind._
    val facts = Seq(Fact("f", "src", columns = Seq(
      FactColumn("t", DimTime),
      FactColumn("geo_city", DimVal("geo")),
      FactColumn("city", DimVal("geo")))))
    val e = Validator.validateEnv(tables, facts, Settings(), Fixtures.testTypeDefaults).toOption.get
    val dim = Extractor.extractDimensionTables(e, e.findFact("f").get).head
    assert(dim.columns.map(_.name) == Seq("id", "city", "city"))
  }

  test("fact plan: the schema, the populate, the emitted SQL and the roll-up agree") {
    def empty(t: Table) =
      spark.createDataFrame(java.util.List.of[Row](), SqlTypes.toStructType(t))
    val envs = Seq(Fixtures.eventsEnv, Fixtures.tpchEnv, Fixtures.tenantEnv, Fixtures.ringoEnv)
    for (e <- envs; f <- e.facts if f.persistent) {
      val plan = Extractor.factPlan(e, f)
      val dims = e.facts.flatMap(Extractor.extractAllDimensionTables(e, _)).map(_._2)
      val populated = FactPopulate.populate(e, f, TimeWindow.unbounded,
        t => empty(e.findTable(t).get), d => empty(dims.find(_.name == d).get))
      val insert = SqlEmit.factPopulateSql(e, f, PopulationMode.Full, includePartitionDay = false)
        .linesIterator.find(_.startsWith("INSERT")).get
      val s       = e.settings
      val coarser = TimeUnit.all(TimeUnit.all.indexOf(s.timeUnit) + 1)
      val coarserTimeId =
        Naming.timeUnitColumnName(s.dimTableIdColumnName, plan.timeColumn, coarser)
      val rolled = Rollup.toCoarser(e, f, populated, coarser).columns.toSeq
        .map(n => if (n == coarserTimeId) plan.timeId else n)
      assert(plan.names.nonEmpty)
      assert(Extractor.extractFactTable(e, f).columns.map(_.name) == plan.names, plan.name)
      assert(populated.columns.toSeq == plan.names, plan.name)
      assert(insert.substring(insert.indexOf('(') + 1, insert.lastIndexOf(')')).split(", ").toSeq
        == plan.names, plan.name)
      assert(rolled == plan.names, plan.name)
    }
  }
}
