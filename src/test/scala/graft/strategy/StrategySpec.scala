package graft.strategy

import graft.SparkSpec
import graft.model._
import graft.ontology._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.util.{Failure, Success, Try}

class StrategySpec extends SparkSpec {
  import spark.implicits._

  private val subject =
    SeriesContext(Identifier.Single("subject_id"), dataContext = Context.SubjectId)
  private def cdf(name: String, df: org.apache.spark.sql.DataFrame, series: SeriesContext*) =
    Cdf.validated(TableContext(name, subject +: series), df)

  // --- T1 alias map ---------------------------------------------------
  test("T1: alias substitution, alias-to-null, miss passthrough, recast") {
    val df = Seq(("P1", "Yes"), ("P2", "No"), ("P3", "maybe")).toDF("subject_id", "living")
    val am = AliasMap(Map("Yes" -> Some("true"), "No" -> Some("false"), "maybe" -> None),
      OutputDataType.Bool)
    val out = AliasMapStrategy.transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("living"), dataContext = Context.VitalStatus,
        aliasMap = Some(am))))).head
    assert(out.df.schema("living").dataType == BooleanType)
    val rows = out.df.orderBy("subject_id").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getBoolean(1)))
    assert(rows.toSeq == Seq(Some(true), Some(false), None))
  }

  // --- T2 mapping -----------------------------------------------------
  test("T2: lower/trim-keyed mapping; unmapped values accumulate and fail once") {
    val df = Seq(("P1", " MALE "), ("P2", "f"), ("P3", "Woman")).toDF("subject_id", "sex")
    val out = MappingStrategy.defaultSex.transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex)))).head
    assert(out.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("MALE", "FEMALE", "FEMALE"))

    val bad = Seq(("P1", "martian"), ("P2", "blorb")).toDF("subject_id", "sex")
    val e = intercept[MappingException] {
      MappingStrategy.defaultSex.transform(Seq(cdf("t", bad,
        SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex))))
    }
    assert(e.badValues.toSet == Set("martian", "blorb")) // ALL collected, one failure

    // Tab/CR padding maps like the driver-side Java trim of the keys
    // (Spark's space-only trim would abort these as unknown).
    val padded = Seq(("P1", "\tMALE\r\n"), ("P2", " f ")).toDF("subject_id", "sex")
    val outP = MappingStrategy.defaultSex.transform(Seq(cdf("t", padded,
      SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex)))).head
    assert(outP.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("MALE", "FEMALE"))

    // Host-locale independence: under a Turkish default locale an
    // ASCII synonym key containing 'I' must still map. Before the ROOT
    // pin, the driver built the key with default-locale toLowerCase
    // ("KADIN" -> dotless "kadın") while Spark's ASCII fast path
    // produced "kadin" — a guaranteed miss and pipeline abort even
    // within one JVM.
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
    try {
      val m = MappingStrategy("tr_probe", Map("KADIN" -> "FEMALE"),
        ContextKind.KSubjectSex)
      val outT = m.transform(Seq(cdf("t",
        Seq(("P1", "kadin")).toDF("subject_id", "sex"),
        SeriesContext(Identifier.Single("sex"), dataContext = Context.SubjectSex)))).head
      assert(outT.df.head().getString(1) == "FEMALE")
    } finally java.util.Locale.setDefault(prev)
  }

  // --- T3 age → ISO8601 ----------------------------------------------
  test("T3: ages to P{n}Y, ISO passthrough, out-of-range errors") {
    val df = Seq(("P1", "45"), ("P2", "P3Y2M"), ("P3", "12.0")).toDF("subject_id", "age")
    val out = AgeToIso8601Strategy().transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("age"), dataContext = Context.Onset(TimeKind.Age))))).head
    assert(out.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("P45Y", "P3Y2M", "P12Y"))

    val bad = Seq(("P1", "151"), ("P2", "banana")).toDF("subject_id", "age")
    val e = intercept[MappingException] {
      AgeToIso8601Strategy().transform(Seq(cdf("t", bad,
        SeriesContext(Identifier.Single("age"), dataContext = Context.Onset(TimeKind.Age)))))
    }
    assert(e.badValues.toSet == Set("151", "banana"))
  }

  // --- T4 date → age --------------------------------------------------
  test("T4: cross-table DOB map, calendar diff, context rewrite") {
    val dobTable = Seq(("P1", "1990-01-15"), ("P2", "2000-06-30")).toDF("subject_id", "dob")
    val onsetTable = Seq(("P1", "1998-04-25"), ("P2", "2001-06-29")).toDF("subject_id", "onset")
    val tables = Seq(
      cdf("dob", dobTable,
        SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
      cdf("onsets", onsetTable,
        SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date))))
    val out = DateToAgeStrategy().transform(tables)
    val onsets = out(1)
    assert(onsets.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("P8Y3M10D", "P11M29D")) // zero components omitted (reference rendering)
    // context rewritten Date → Age
    assert(onsets.bindings.collect {
      case (c, sc) if c == "onset" => sc.dataContext
    }.head == Context.Onset(TimeKind.Age))
  }

  test("T4: conflicting DOBs error; negative ages error") {
    val dob = Seq(("P1", "1990-01-15"), ("P1", "1991-01-15")).toDF("subject_id", "dob")
    val onset = Seq(("P1", "1998-04-25")).toDF("subject_id", "onset")
    intercept[MappingException] {
      DateToAgeStrategy().transform(Seq(
        cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
        cdf("o", onset, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
    }
    val dob2 = Seq(("P1", "1990-01-15")).toDF("subject_id", "dob")
    val onset2 = Seq(("P1", "1980-01-01")).toDF("subject_id", "onset")
    intercept[MappingException] {
      DateToAgeStrategy().transform(Seq(
        cdf("d", dob2, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
        cdf("o", onset2, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
    }
  }

  test("T4: unparseable dates error (reference date_to_age.rs:184-187); non-strict keeps raw on missing DOB") {
    val dob = Seq(("P1", "1990-01-15")).toDF("subject_id", "dob")
    // a DOB exists, so the garbled onset is a PARSE failure — the
    // reference accumulates it into the error set regardless of strict
    val onset = Seq(("P1", "2020/13/45")).toDF("subject_id", "onset")
    val e = intercept[MappingException] {
      DateToAgeStrategy(strict = false).transform(Seq(
        cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
        cdf("o", onset, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
    }
    assert(e.getMessage.contains("unparseable"))
    // strict: cells the preprocessor rejects are unparseable here too
    // (Spark's lenient string-to-date cast read them as dates)
    for (bad <- Seq("2020-7", "2020-07-01 junk")) {
      val e2 = intercept[MappingException] {
        DateToAgeStrategy().transform(Seq(
          cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
          cdf("o", Seq(("P1", bad)).toDF("subject_id", "onset"),
            SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
      }
      assert(e2.getMessage.contains("unparseable date values"), bad)
    }
    // non-strict + MISSING DOB keeps the raw date string (reference
    // returns AnyValue::String(date) there, :177-179)
    val onset2 = Seq(("P1", "1998-04-25"), ("P9", "2001-06-29")).toDF("subject_id", "onset")
    val out = DateToAgeStrategy(strict = false).transform(Seq(
      cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
      cdf("o", onset2, SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)))))
    val got = out(1).df.orderBy("subject_id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("P8Y3M10D", "2001-06-29"))
  }

  test("T4: a user column named __dob passes through unharmed") {
    val dob = Seq(("P1", "1990-01-15")).toDF("subject_id", "dob")
    val onset = Seq(("P1", "1998-04-25", "keep")).toDF("subject_id", "onset", "__dob")
    val out = DateToAgeStrategy().transform(Seq(
      cdf("d", dob, SeriesContext(Identifier.Single("dob"), dataContext = Context.DateOfBirth)),
      cdf("o", onset,
        SeriesContext(Identifier.Single("onset"), dataContext = Context.Onset(TimeKind.Date)),
        SeriesContext(Identifier.Single("__dob")))))
    val row = out(1).df.collect().head
    assert(row.getString(row.fieldIndex("onset")) == "P8Y3M10D")
    assert(row.getString(row.fieldIndex("__dob")) == "keep")
  }

  test("T1/T3: tab- and CR-padded cells Java-trim like the sibling strategies") {
    // alias map: "yes\t" must hit the Java-trimmed key "yes"
    val t1 = Seq(("P1", "yes\t")).toDF("subject_id", "status")
    val am = AliasMap(Map("yes" -> Some("ALIVE")), OutputDataType.Str)
    val out1 = AliasMapStrategy.transform(Seq(
      cdf("t", t1, SeriesContext(Identifier.Single("status"),
        dataContext = Context.VitalStatus, aliasMap = Some(am)))))
    assert(out1.head.df.collect().head.getString(1) == "ALIVE")
    // age normalization: "P1Y\t" is a padded valid ISO duration, not
    // an unmappable value that aborts the run
    val t3 = Seq(("P1", "P1Y\t"), ("P2", " 5 ")).toDF("subject_id", "age")
    val out3 = AgeToIso8601Strategy().transform(Seq(
      cdf("t", t3, SeriesContext(Identifier.Single("age"),
        dataContext = Context.Onset(TimeKind.Age)))))
    assert(out3.head.df.orderBy("subject_id").collect().map(_.getString(1)).toSeq ==
      Seq("P1Y", "P5Y"))
  }

  test("T5: header codec round-trips block ids containing '#'") {
    import MultiHpoColExpansionStrategy._
    for (block <- Seq(None, Some("b"), Some("b#1"))) {
      assert(decodeHeader(headerFor("HP:0000001", block)) == (("HP:0000001", block)))
    }
  }

  // --- T5 multi-HPO expansion ----------------------------------------
  test("T5: regex scan, per-patient union, boolean columns, source dropped") {
    val df = Seq(
      ("P1", "seafood allergy HP:0410333 and dairy HP:0410327"),
      ("P2", "gluten HP:0410329"),
      ("P3", "no codes here")).toDF("subject_id", "hpos")
    val out = MultiHpoColExpansionStrategy.transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("hpos"), dataContext = Context.MultiHpoId,
        buildingBlockId = Some("A"))))).head
    assert(!out.df.columns.contains("hpos"))
    assert(out.df.columns.toSet.contains("HP:0410333#A"))
    val p1 = out.df.filter($"subject_id" === "P1")
      .select("HP:0410333#A", "HP:0410327#A", "HP:0410329#A").head()
    assert(p1.getBoolean(0) && p1.getBoolean(1) && p1.isNullAt(2))
    // new contexts registered with Hpo header context
    assert(out.bindings.exists { case (c, sc) =>
      c == "HP:0410333#A" && sc.headerContext == Context.Hpo &&
        sc.dataContext == Context.ObservationStatus })
  }

  test("T5: discovered ids keep first-seen order (row, then source column, then cell)") {
    // P1's cell in `a` names HP:0000009 before HP:0000003 (not
    // lexicographic); `b` is P1's second source column, so its
    // HP:0000005 comes after both of `a`'s ids although it is at
    // position 0 of its cell; P2 brings the smallest id last.
    val df = Seq(
      ("P1", "HP:0000009 then HP:0000003", "HP:0000005"),
      ("P2", "HP:0000001", "HP:0000003")).toDF("subject_id", "a", "b")
    val out = MultiHpoColExpansionStrategy.transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("a"), dataContext = Context.MultiHpoId,
        buildingBlockId = Some("A")),
      SeriesContext(Identifier.Single("b"), dataContext = Context.MultiHpoId,
        buildingBlockId = Some("A"))))).head
    val expected = Seq("HP:0000009#A", "HP:0000003#A", "HP:0000005#A", "HP:0000001#A")
    assert(out.df.columns.toSeq.filter(_.startsWith("HP:")) == expected)
    assert(out.context.seriesContexts.flatMap(_.identifier match {
      case Identifier.Single(n) if n.startsWith("HP:") => Some(n)
      case _ => None
    }) == expected)
  }

  // --- T7 splitter ----------------------------------------------------
  test("T7: HpoOrDisease splits by dictionary membership; unknown errors") {
    val hp = BiDict.fromEntries(
      Resource("hp", "HPO", "http://purl.obolibrary.org/obo/hp.owl", "v1", "HP", "http://purl.obolibrary.org/obo/HP_"),
      Seq(("HP:0001945", "Fever", Seq("febrile"))))
    val mondo = BiDict.fromEntries(
      Resource("mondo", "MONDO", "http://purl.obolibrary.org/obo/mondo.owl", "v1", "MONDO", "http://purl.obolibrary.org/obo/MONDO_"),
      Seq(("MONDO:0005737", "Ebola", Seq())))
    val lib = BiDictLibrary(Seq(hp, mondo))

    val df = Seq(("P1", "Fever"), ("P2", "Ebola")).toDF("subject_id", "x")
    val out = HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease)))).head
    assert(!out.df.columns.contains("x"))
    val rows = out.df.orderBy("subject_id").select("x_hpo", "x_disease").collect()
    assert(Option(rows(0).getString(0)) == Some("Fever") && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && Option(rows(1).getString(1)) == Some("Ebola"))

    val bad = Seq(("P1", "Gibberish")).toDF("subject_id", "x")
    intercept[MappingException] {
      HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", bad,
        SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease))))
    }

    // Tab/CR/newline padding (routine in TSV-derived cells) must
    // classify exactly like the driver-side BiDict.resolve, whose Java
    // trim strips ALL chars <= U+0020 — Spark's `trim` (space only)
    // would wrongly report these as unknown and abort the pipeline.
    val padded = Seq(("P1", "HP:0001945\t"), ("P2", "Fever\n"),
      ("P3", "\r\nEbola ")).toDF("subject_id", "x")
    val outP = HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", padded,
      SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease)))).head
    val rowsP = outP.df.orderBy("subject_id").select("x_hpo", "x_disease").collect()
    assert(Option(rowsP(0).getString(0)) == Some("HP:0001945\t"))
    assert(Option(rowsP(1).getString(0)) == Some("Fever\n"))
    assert(Option(rowsP(2).getString(1)) == Some("\r\nEbola "))
  }

  test("T7: user columns named like the join's temp/terms columns survive") {
    val hp = BiDict.fromEntries(
      Resource("hp", "HPO", "http://purl.obolibrary.org/obo/hp.owl", "v1", "HP", "http://purl.obolibrary.org/obo/HP_"),
      Seq(("HP:0001945", "Fever", Seq())))
    val mondo = BiDict.fromEntries(
      Resource("mondo", "MONDO", "http://purl.obolibrary.org/obo/mondo.owl", "v1", "MONDO", "http://purl.obolibrary.org/obo/MONDO_"),
      Seq(("MONDO:0005737", "Ebola", Seq())))
    val lib = BiDictLibrary(Seq(hp, mondo))

    // Columns named exactly like the implementation's former internal
    // names: previously __gk/__gc were silently overwritten+dropped and
    // t_cls made the class reference ambiguous. All must pass through.
    val df = Seq(("P1", "Fever", "keepGk", "keepGc", "keepCls", "keepKey"))
      .toDF("subject_id", "x", "__gk", "__gc", "t_cls", "t_key")
    val out = HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", df,
      SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease)))).head
    assert(Seq("__gk", "__gc", "t_cls", "t_key").forall(out.df.columns.contains))
    val r = out.df.select("x_hpo", "__gk", "__gc", "t_cls", "t_key").head()
    assert(r.getString(0) == "Fever")
    assert(Seq(1, 2, 3, 4).map(r.getString) == Seq("keepGk", "keepGc", "keepCls", "keepKey"))
  }

  test("T7: classification is host-locale-independent (tr_TR lowercasing)") {
    // A label with a non-ASCII char AND an uppercase 'I': Spark's
    // builtin `lower` would take its non-ASCII slow path and lowercase
    // with the JVM default locale — under tr that maps 'I' to dotless
    // 'ı', missing the ROOT-keyed dictionary and aborting on a value
    // the dictionary knows. BiDict.norm pins ROOT on the cell side.
    val hp = BiDict.fromEntries(
      Resource("hp", "HPO", "http://purl.obolibrary.org/obo/hp.owl", "v1", "HP", "http://purl.obolibrary.org/obo/HP_"),
      Seq(("HP:0000554", "Behçet IRITIS", Seq())))
    val lib = BiDictLibrary(Seq(hp,
      BiDict.fromEntries(
        Resource("mondo", "MONDO", "http://purl.obolibrary.org/obo/mondo.owl", "v1", "MONDO", "http://purl.obolibrary.org/obo/MONDO_"),
        Seq())))
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
    try {
      val df = Seq(("P1", "BEHÇET IRITIS")).toDF("subject_id", "x")
      val out = HpoDiseaseSplitterStrategy(lib).transform(Seq(cdf("t", df,
        SeriesContext(Identifier.Single("x"), dataContext = Context.HpoOrDisease)))).head
      assert(out.df.select("x_hpo").head().getString(0) == "BEHÇET IRITIS")
    } finally java.util.Locale.setDefault(prev)
  }

  // --- the cell-rule contract (T2, T3, T6, T7) ------------------------
  private val fevers = BiDictLibrary(Seq(
    BiDict.fromEntries(
      Resource("hp", "HPO", "http://purl.obolibrary.org/obo/hp.owl", "v1", "HP", "http://purl.obolibrary.org/obo/HP_"),
      Seq(("HP:0001945", "Fever", Seq("febrile")))),
    BiDict.fromEntries(
      Resource("mondo", "MONDO", "http://purl.obolibrary.org/obo/mondo.owl", "v1", "MONDO", "http://purl.obolibrary.org/obo/MONDO_"),
      Seq(("MONDO:0005737", "Ebola", Seq())))))

  test("T7: a series bound to two columns splits both and leaves no HpoOrDisease series") {
    val df = Seq(("P1", "Fever", "Ebola")).toDF("subject_id", "dx_1", "dx_2")
    val out = HpoDiseaseSplitterStrategy(fevers).transform(Seq(cdf("t", df,
      SeriesContext(Identifier.regex("^dx_"), dataContext = Context.HpoOrDisease)))).head
    assert(out.df.columns.toSeq == Seq("subject_id", "dx_1_hpo", "dx_1_disease", "dx_2_hpo", "dx_2_disease"))
    assert(out.context.seriesContexts.map(_.dataContext) ==
      Seq(Context.SubjectId, Context.Hpo, Context.Disease, Context.Hpo, Context.Disease))
    val r = out.df.head()
    assert(r.getString(1) == "Fever" && r.isNullAt(2) && r.isNullAt(3) && r.getString(4) == "Ebola")
  }

  /** Cells and what a strategy makes of each: `Left(reported)` is an
    * unknown cell and the value the rejection names, `Right(outputs)`
    * the cell's output columns.
    */
  private type Pool = Seq[(String, Either[String, Seq[String]])]

  private def out(v: String*): Either[String, Seq[String]] = Right(v)
  private def unknown(reported: String): Either[String, Seq[String]] = Left(reported)
  private val blanks: Seq[String] = Seq(" ", "\t", "\r\n ", "")

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Ten tables of up to 50 cells drawn from `pool` in one column `v`
    * with data context `data`, two tables a call: the strategy throws
    * iff a cell is unknown, naming exactly the distinct unknown cells;
    * otherwise each output cell is the pool's. Three calls may draw
    * unknown cells, two draw only known ones.
    */
  private def holdsCellRule(s: CellRuleStrategy, data: Context, outCols: Seq[String], pool: Pool): Unit = {
    def tables(cells: Pool) =
      Gen.listOfN(2, Gen.choose(1, 50).flatMap(n => Gen.listOfN(n, Gen.oneOf(cells))))
    val draws = samples(tables(pool), 3) ++ samples(tables(pool.filter(_._2.isRight)), 2)
    draws.foreach { drawn =>
      val in = drawn.zipWithIndex.map { case (rows, i) =>
        cdf(s"t$i", rows.zipWithIndex.map { case ((v, _), j) => (s"P$j", v) }.toDF("subject_id", "v"),
          SeriesContext(Identifier.Single("v"), dataContext = data))
      }
      val rejected = drawn.flatten.collect { case (_, Left(r)) => r }.distinct.sorted
      Try(s.transform(in)) match {
        case Failure(e: MappingException) =>
          assert(rejected.nonEmpty, s"${s.name} rejected ${e.badValues}")
          assert(e.badValues.sorted == rejected)
        case Failure(e) => throw e
        case Success(res) =>
          assert(rejected.isEmpty, s"${s.name} accepted $rejected")
          res.zip(drawn).foreach { case (t, rows) =>
            val got = t.df.select(("subject_id" +: outCols).map(col): _*).collect()
              .map(r => r.getString(0) -> outCols.indices.map(k => r.getString(k + 1))).toMap
            rows.zipWithIndex.foreach { case ((v, want), j) =>
              assert(Right(got(s"P$j")) == want, s"${s.name}: cell '$v'")
            }
          }
      }
    }
  }

  test("T2 property: rejects iff a non-blank cell is unknown, naming it trimmed; maps the rest") {
    holdsCellRule(MappingStrategy.defaultSex, Context.SubjectSex, Seq("v"), Seq(
      "male" -> out("MALE"), "f" -> out("FEMALE"), "Woman" -> out("FEMALE"),
      "other" -> out("OTHER_SEX"), "UNKNOWN_SEX" -> out("UNKNOWN_SEX"),
      "\tMALE" -> out("MALE"), " female\r" -> out("FEMALE"), "M " -> out("MALE"),
      "WOMAN\n" -> out("FEMALE"),
      "martian" -> unknown("martian"), "Martian" -> unknown("Martian"),
      " Blorb\t" -> unknown("Blorb"), "x y" -> unknown("x y"),
      (null: String) -> out(null)) ++ blanks.map(_ -> out(null)))
  }

  test("T3 property: rejects iff a non-blank cell is unknown, naming it trimmed; maps the rest") {
    holdsCellRule(AgeToIso8601Strategy(), Context.Onset(TimeKind.Age), Seq("v"), Seq(
      "45" -> out("P45Y"), "12.0" -> out("P12Y"), " 5 " -> out("P5Y"), "0" -> out("P0Y"),
      "150" -> out("P150Y"), "P3Y2M" -> out("P3Y2M"), "P1Y\t" -> out("P1Y"),
      "151" -> unknown("151"), "-1" -> unknown("-1"), "1.5" -> unknown("1.5"),
      "banana" -> unknown("banana"), " banana\r" -> unknown("banana"),
      (null: String) -> out(null)) ++ blanks.map(_ -> out(null)))
  }

  test("T6 property: rejects iff a non-blank cell is unknown, naming it trimmed; maps the rest") {
    holdsCellRule(OntologyNormaliserStrategy(fevers), Context.Hpo, Seq("v"), Seq(
      "Fever" -> out("HP:0001945"), "febrile" -> out("HP:0001945"),
      "HP:0001945" -> out("HP:0001945"), "Ebola" -> out("MONDO:0005737"),
      "MONDO:0005737" -> out("MONDO:0005737"), "\tFEVER " -> out("HP:0001945"),
      "ebola\r\n" -> out("MONDO:0005737"), " HP:0001945 " -> out("HP:0001945"),
      "Gibberish" -> unknown("Gibberish"), " HP:9999999\t" -> unknown("HP:9999999"),
      (null: String) -> out(null)) ++ blanks.map(_ -> out(null)))
  }

  test("T7 property: rejects iff a non-blank cell is unknown, naming it trimmed; splits the rest raw") {
    holdsCellRule(HpoDiseaseSplitterStrategy(fevers), Context.HpoOrDisease, Seq("v_hpo", "v_disease"), Seq(
      "Fever" -> out("Fever", null), "febrile" -> out("febrile", null),
      "HP:0001945" -> out("HP:0001945", null), "Ebola" -> out(null, "Ebola"),
      "\tFEVER " -> out("\tFEVER ", null), "ebola\r\n" -> out(null, "ebola\r\n"),
      "Gibberish" -> unknown("Gibberish"), " Nope\t" -> unknown("Nope"),
      (null: String) -> out(null, null)) ++ blanks.map(_ -> out(null, null)))
  }

  test("T2/T3/T6/T7: a table with no target keeps its frame; no target anywhere is invalid") {
    val plain = cdf("plain", Seq(("P1", "x")).toDF("subject_id", "other"),
      SeriesContext(Identifier.Single("other")))
    val cases = Seq(
      MappingStrategy.defaultSex -> Context.SubjectSex,
      AgeToIso8601Strategy() -> Context.Onset(TimeKind.Age),
      OntologyNormaliserStrategy(fevers) -> Context.Hpo,
      HpoDiseaseSplitterStrategy(fevers) -> Context.HpoOrDisease)
    cases.foreach { case (s, data) =>
      assert(!s.isValid(Seq(plain)), s.name)
      val target = cdf("target", Seq(("P1", null: String)).toDF("subject_id", "v"),
        SeriesContext(Identifier.Single("v"), dataContext = data))
      val res = s.transform(Seq(target, plain))
      assert(res(1).df eq plain.df, s.name)
      assert(!(res(0).df eq target.df), s.name)
    }
  }

  test("T2/T6/T7: whitespace-only cells pass as null; a rejected cell is named Java-trimmed") {
    val cases = Seq(
      (MappingStrategy.defaultSex, Context.SubjectSex, "v"),
      (OntologyNormaliserStrategy(fevers), Context.Hpo, "v"),
      (HpoDiseaseSplitterStrategy(fevers), Context.HpoOrDisease, "v_hpo"))
    cases.foreach { case (s, data, outCol) =>
      def run(cells: String*) = s.transform(Seq(cdf("t",
        cells.zipWithIndex.map { case (v, i) => (s"P$i", v) }.toDF("subject_id", "v"),
        SeriesContext(Identifier.Single("v"), dataContext = data)))).head
      val res = run(" ", "\t", "\r\n ")
      assert(res.df.select(outCol).collect().forall(_.isNullAt(0)), s.name)
      val e = intercept[MappingException](run(" Martian\t", "\t"))
      assert(e.badValues == Seq("Martian"), s.name)
    }
  }
}
