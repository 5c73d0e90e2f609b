package graft

import org.apache.spark.sql.functions._
import graft.sources.TabReader
import graft.core.Schema
import graft.core.Schema._

class TabReaderSpec extends SparkSpec {

  /** Small hand-written `.tab` fixtures in the shapes of Orange's
    * iris, zoo and adult_sample_missing datasets. */
  private def fixture(name: String): String =
    getClass.getResource(s"/tab/$name").getPath

  test("3-row header: continuous features, class role (iris shape)") {
    val df = TabReader.read(spark, fixture("iris_small.tab"))
    assert(df.columns.toSeq ==
      Seq("sepal length", "sepal width", "petal length", "petal width", "iris"))
    assert(df.count() == 6)
    val dom = Schema.domainOf(df)
    assert(dom.classVars.map(_.name) == Seq("iris"))
    assert(dom.attributes.size == 4)
    assert(dom("sepal length").kind == VarKind.Continuous)
    // a `d` column without a value list is discrete, not a string
    assert(dom("iris").kind == VarKind.Discrete)
    assert(dom("iris").values.isEmpty)
    // value sanity: (5.1 + 4.9 + 7.0 + 6.4 + 6.3 + 5.8) / 6
    val m = df.agg(avg(col("sepal length"))).head.getDouble(0)
    assert(math.abs(m - 35.5 / 6) < 1e-9)
  }

  test("string meta column (zoo shape)") {
    val df = TabReader.read(spark, fixture("zoo_small.tab"))
    val dom = Schema.domainOf(df)
    assert(dom.metas.map(_.name) == Seq("name"))
    assert(dom("name").kind == VarKind.Str)
    assert(dom.classVars.map(_.name) == Seq("type"))
    assert(dom.attributes.map(_.name) == Seq("hair", "feathers", "legs"))
    assert(df.count() == 5)
    assert(df.filter(col("type") === "bird").select("name").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("chicken", "flamingo"))
  }

  test("declared value lists + missing tokens (adult_sample_missing shape)") {
    val df = TabReader.read(spark, fixture("adult_missing_small.tab"))
    val dom = Schema.domainOf(df)
    assert(df.count() == 7)
    assert(dom("workclass").kind == VarKind.Discrete)
    assert(dom("workclass").values ==
      Seq("Private", "Self-emp-not-inc", "Local-gov", "State-gov"))
    assert(dom("y").values == Seq("<=50K", ">50K"))
    assert(dom.classVars.map(_.name) == Seq("y"))
    // '?' tokens must become NULL, in discrete and continuous columns
    assert(df.filter(col("workclass").isNull).count() == 2)
    assert(df.filter(col("education").isNull).count() == 1)
    assert(dom("age").kind == VarKind.Continuous)
    assert(df.filter(col("age").isNull).count() == 1)
    assert(df.agg(sum(col("age"))).head.getDouble(0) == 260.0)
  }

  test("TimeVariable probe chain parses every reference _ISO_FORMAT") {
    // one case per variable.py:937-972 entry (both %z placements, both
    // separators, fractional + compact + ordinal-date forms); expected
    // epochs precomputed in UTC
    import spark.implicits._
    val cases = Seq(
      ("2021-11-25 13:35:20+0100", 1637843720.0),
      ("2021-11-25 13:35:20", 1637847320.0),
      ("2021-11-25 13:35", 1637847300.0),
      ("2021-11-25T13:35:20+0100", 1637843720.0),
      ("2021-11-25T13:35:20", 1637847320.0),
      ("2021-11-25", 1637798400.0),
      ("2021-11-25 13:35:20.5", 1637847320.5),
      ("2021-11-25T13:35:20.123456", 1637847320.123456),
      ("2021-11-25 13:35:20.123+0100", 1637843720.123),
      ("2021-11-25T13:35:20.25-0500", 1637865320.25),
      ("20211125T133520+0100", 1637843720.0),
      ("20211125133520+0100", 1637843720.0),
      ("13:35:20.123456", 48920.123456),
      ("13:35:20", 48920.0),
      ("13:35", 48900.0),
      ("20211125T133520", 1637847320.0),
      ("20211125133520", 1637847320.0),
      ("20211125", 1637798400.0),
      ("2021329", 1637798400.0),
      ("2021", 1609459200.0),
      ("133520.123456", 48920.123456),
      ("2021-11", 1635724800.0),
      ("2021-329", 1637798400.0))
    val got = cases.toDF("s", "want")
      .select(col("s"), col("want"),
        TabReader.timeProbe(col("s")).cast("double").as("got"))
      .collect()
    got.foreach { r =>
      assert(!r.isNullAt(2), s"no format matched '${r.getString(0)}'")
      assert(r.getDouble(2) == r.getDouble(1),
        s"'${r.getString(0)}' parsed to ${r.getDouble(2)}, want ${r.getDouble(1)}")
    }
    // priority pins: the compact date must not leak into bare yyyy, and
    // yyyy-MM outranks yyyy-DDD exactly like the reference's format order
    val amb = Seq(("2021-11", 0)).toDF("s", "z")
      .select(TabReader.timeProbe(col("s")).cast("double")).head.getDouble(0)
    assert(amb == 1635724800.0) // November 1st, NOT day-of-year 11
  }

  test("mixed-format time column reads through the .tab header") {
    val tab = "/tmp/graft_test_times.tab"
    val body = Seq("when", "t", "",
      "2021-11-25 13:35:20", "20211125", "13:35", "2021-329", "?")
      .mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tab), body)
    val df = TabReader.read(spark, tab)
    assert(Schema.domainOf(df)("when").kind == VarKind.Time)
    val vals = df.select(col("when").cast("double")).collect()
      .map(r => if (r.isNullAt(0)) -1.0 else r.getDouble(0)).toSeq
    assert(vals == Seq(1637847320.0, 1637798400.0, 48900.0, 1637798400.0, -1.0))
  }

  test("opt-in locale formats parse; the default probe leaves them null") {
    // reference ADDITIONAL_FORMATS (variable.py:985-1051): these are an
    // explicit user choice there and an explicit localeTimes=true here —
    // `04.02.2016` must NOT silently parse by default (ambiguous against
    // other locales' month-first dotted forms)
    import spark.implicits._
    val cases = Seq(
      ("04.02.2016", 1454544000.0),              // %d.%m.%Y → Feb 4
      ("25. 11. 2021", 1637798400.0),            // %d. %m. %Y
      ("25.11.21", 1637798400.0),                // %d.%m.%y → 2021
      ("11/25/2021", 1637798400.0),              // %m/%d/%Y (US)
      ("11/25/21", 1637798400.0),                // %m/%d/%y
      ("25.11.2021 13:35:20", 1637847320.0),     // dotted + time
      ("11/25/2021 13:35:20.25", 1637847320.25), // US + fractional
      ("202111251335", 1637847300.0))            // %Y%m%d%H%M
    val got = cases.toDF("s", "want")
      .select(col("s"), col("want"),
        TabReader.timeProbe(col("s"), locale = true).cast("double").as("got"),
        TabReader.timeProbe(col("s")).cast("double").as("iso"))
      .collect()
    got.foreach { r =>
      assert(!r.isNullAt(2), s"locale probe missed '${r.getString(0)}'")
      assert(r.getDouble(2) == r.getDouble(1),
        s"'${r.getString(0)}' parsed to ${r.getDouble(2)}, want ${r.getDouble(1)}")
      assert(r.isNullAt(3), s"'${r.getString(0)}' leaked into the ISO probe")
    }
    // ISO forms still win inside the locale probe (prefix order), and the
    // reader-level opt-in threads through the .tab header path
    val tab = "/tmp/graft_test_locale_times.tab"
    val body = Seq("when", "t", "", "04.02.2016", "2016-02-05").mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tab), body)
    val vals = TabReader.read(spark, tab, localeTimes = true)
      .select(col("when").cast("double")).collect().map(_.getDouble(0)).toSeq
    assert(vals == Seq(1454544000.0, 1454630400.0))
    val defaults = TabReader.read(spark, tab)
      .select(col("when").cast("double")).collect()
      .map(r => if (r.isNullAt(0)) -1.0 else r.getDouble(0)).toSeq
    assert(defaults == Seq(-1.0, 1454630400.0))
  }

  test("per-column type overrides: Skip/Numeric/Text/Time/Categorical beat the header") {
    import graft.sources.TabReader.ColType
    val tab = "/tmp/graft_test_overrides.tab"
    val body = Seq(
      "num\ttxt\twhen\tdrop\tcat",
      "s\tc\ts\tc\tred blue",
      "\t\t\t\t",
      "1.5\t7\t2021-11-25\t9\tred",
      "2.5\t8\t2021-11-26\t9\tblue").mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tab), body)
    val df = TabReader.read(spark, tab, overrides = Map(
      "num" -> ColType.Numeric,   // declared s → forced double
      "txt" -> ColType.Text,      // declared c → forced string
      "when" -> ColType.Time,     // declared s → forced time probe
      "drop" -> ColType.Skip,     // gone entirely
      "cat" -> ColType.Categorical))
    assert(df.columns.toSeq == Seq("num", "txt", "when", "cat"))
    assert(df.schema("num").dataType.typeName == "double")
    assert(df.schema("txt").dataType.typeName == "string")
    assert(Schema.domainOf(df)("when").kind == VarKind.Time)
    // Categorical keeps the declared value dictionary; a Text override
    // on the same column would strip it (checked below)
    assert(Schema.domainOf(df)("cat").kind == VarKind.Discrete)
    assert(Schema.domainOf(df)("cat").values == Seq("red", "blue"))
    assert(Schema.domainOf(
      TabReader.read(spark, tab, overrides = Map("cat" -> ColType.Text)))("cat")
      .kind == VarKind.Str)
    assert(df.select(col("when").cast("double")).collect()
      .map(_.getDouble(0)).toSeq == Seq(1637798400.0, 1637884800.0))
    // Auto (or absence) keeps the header's declaration
    val auto = TabReader.read(spark, tab,
      overrides = Map("num" -> ColType.Auto))
    assert(auto.schema("num").dataType.typeName == "string")
  }

  test("round-trip write/read preserves schema and rows") {
    val df = TabReader.read(spark, fixture("iris_small.tab"))
    val out = java.nio.file.Files.createTempDirectory("graft_tab_rt_")
      .resolve("iris.tab").toString
    TabReader.write(df, out)
    val back = TabReader.read(spark, out)
    assert(back.count() == 6)
    assert(Schema.domainOf(back).classVars.map(_.name) == Seq("iris"))
    assert(back.columns.toSeq == df.columns.toSeq)
    // the type row keeps the discrete class column as `d`
    val typeRow = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(out)).get(1)
    assert(typeRow.split("\t").toSeq == Seq("c", "c", "c", "c", "d"))
    assert(Schema.domainOf(back)("iris").kind == VarKind.Discrete)
  }
}
