package graft.xml

import graft.model._

/** Ported from the reference's `test/xml/table_test.rb` — golden expected
  * records pin augmentation, masking and xpath-evaluation semantics. */
class XmlTableSpec extends graft.SparkSpec {

  private def cm(column: String, klass: String = null, rawtext: String = null,
                 rel: String = null, attr: String = null, multiple: Boolean = false,
                 buildNewRecord: Boolean = true, incrementFieldName: Boolean = false,
                 mappings: Seq[FieldMapping] = Nil): ColumnMapping =
    ColumnMapping(
      column = Some(column),
      klass = Option(klass).toSeq,
      rawtextName = Option(rawtext),
      mappings = mappings,
      xmlCell = Some(XmlCell(
        relativePath = Option(rel), attribute = Option(attr),
        multiple = multiple, buildNewRecord = buildNewRecord,
        incrementFieldName = incrementFieldName)))

  private val sampleRecord1 =
    """<record>
      |  <no_relative_path value="A value"/>
      |  <no_path_or_att>Another value</no_path_or_att>
      |  <demographics>
      |    <demographics_1>AAA</demographics_1>
      |    <address>
      |      <address_line1>Address</address_line1>
      |      <address_line1>Address 2</address_line1>
      |    </address>
      |    <demographics_2 code="03">Inner text</demographics_2>
      |  </demographics>
      |  <pathology>
      |    <pathology_date_1>2018-01-01</pathology_date_1>
      |    <pathology_date_2 />
      |  </pathology>
      |</record>""".stripMargin

  private val xmlColumnMapping = Seq(
    cm("no_relative_path", "SomeTestKlass", rel = "", attr = "value"),
    cm("no_relative_path", "SomeTestKlass", rawtext = "no_relative_path_inner_text", rel = ""),
    cm("no_path_or_att", "SomeTestKlass", rel = "", attr = ""),
    cm("demographics_1", "SomeTestKlass", rel = "demographics"),
    cm("demographics_2", "SomeTestKlass", rel = "demographics", attr = "code"),
    cm("demographics_2", "SomeTestKlass", rawtext = "demographics_2_inner_text", rel = "demographics"),
    cm("address_line1[1]", "SomeTestKlass", rawtext = "address1", rel = "demographics/address"),
    cm("address_line1[2]", "SomeTestKlass", rawtext = "address2", rel = "demographics/address"),
    cm("pathology_date_1", "SomeTestKlass", rel = "pathology"),
    cm("pathology_date_2", "SomeTestKlass", rel = "pathology"),
    cm("should_be_blank", "SomeTestKlass", rel = "not_present"))

  test("transforms xml element lines (golden rawtext)") {
    val mapping = TableMapping(klass = Some("SomeTestKlass"), columns = xmlColumnMapping)
    val rec = scala.xml.XML.loadString(sampleRecord1)
    val out = XmlTable.transformRecord(mapping, rec, 1L)
    assert(out.length == 1)
    val (klass, fields, rawtext, idx) = out.head
    assert(klass == "SomeTestKlass")
    assert(idx == 1L)
    assert(rawtext == Map(
      "no_relative_path" -> "A value",
      "no_relative_path_inner_text" -> "",
      "no_path_or_att" -> "Another value",
      "demographics_1" -> "AAA",
      "demographics_2" -> "03",
      "demographics_2_inner_text" -> "Inner text",
      "address1" -> "Address",
      "address2" -> "Address 2",
      "pathology_date_1" -> "2018-01-01",
      "pathology_date_2" -> "",
      "should_be_blank" -> ""))
    assert(fields.isEmpty)
  }

  test("fails with unmapped nodes, reference message") {
    val partial = Seq(
      cm("no_relative_path", rel = "", attr = "value"),
      cm("no_path_or_att", rel = "", attr = ""),
      cm("demographics_1", rel = "demographics"),
      cm("demographics_2", rel = "demographics", attr = "code"),
      cm("address_line1", rel = "demographics/address"))
    val mapping = TableMapping(klass = Some("SomeTestKlass"), columns = partial)
    val rec = scala.xml.XML.loadString(sampleRecord1)
    val ex = intercept[XmlTable.UnmappedXpathError] {
      XmlTable.transformRecord(mapping, rec, 0L)
    }
    assert(ex.getMessage == "Unmapped xpath(s): pathology/pathology_date_1")
  }

  test("mappable xpaths skip empty attribute-less nodes") {
    val rec = scala.xml.XML.loadString(
      """<record>
        |  <no_relative_path value="A value"/>
        |  <no_path_or_att>Another value</no_path_or_att>
        |  <demographics>
        |    <demographics_1>AAA</demographics_1>
        |    <demographics_2 code="03">Inner text</demographics_2>
        |  </demographics>
        |  <pathology><pathology_date_1/></pathology>
        |</record>""".stripMargin)
    assert(XmlTable.mappableXpaths(rec) == Seq(
      "no_relative_path/@value", "no_path_or_att",
      "demographics/demographics_1", "demographics/demographics_2/@code"))
  }

  private val repeatingMapping = Seq(
    cm("no_relative_path", "SomeTestKlass", rel = "", attr = "value"),
    cm("no_path_or_att", "SomeTestKlass", rel = "", attr = ""),
    cm("demographics_1", "SomeTestKlass", rel = "demographics"),
    cm("demographics_2", "SomeTestKlass", rel = "demographics", attr = "code"),
    cm("demographics_2", "SomeTestKlass", rawtext = "demographics_2_inner_text", rel = "demographics"),
    cm("address_line1", "SomeTestKlass", rawtext = "address", rel = "demographics/address",
       multiple = true, buildNewRecord = false),
    cm("pathology_date", "SomeTestKlass", rel = "pathology/sample", multiple = true),
    cm("pathology_id", "SomeTestKlass", rel = "pathology/sample", multiple = true),
    cm("should_be_blank", "SomeTestKlass", rel = "not_present"))

  test("augments columns for repeating sections (golden, 3 records)") {
    val xml =
      """<root>
        |<record>
        |  <no_relative_path value="A value"/>
        |  <no_path_or_att>Another value</no_path_or_att>
        |  <demographics>
        |    <demographics_1>AAA</demographics_1>
        |    <address><address_line1>Address</address_line1><address_line1>Address 2</address_line1></address>
        |    <demographics_2 code="03">Inner text</demographics_2>
        |  </demographics>
        |  <pathology>
        |    <sample><pathology_date>2018-01-01</pathology_date><pathology_id>AAA</pathology_id></sample>
        |    <sample><pathology_date>2019-01-01</pathology_date><pathology_id>BBB</pathology_id></sample>
        |  </pathology>
        |  <pathology>
        |    <sample><pathology_date>2020-01-01</pathology_date><pathology_id>CCC</pathology_id></sample>
        |  </pathology>
        |</record>
        |<record>
        |  <demographics>
        |    <address><address_line1>Address</address_line1><address_line1>Address 2</address_line1></address>
        |    <demographics_2 code="03">Inner text</demographics_2>
        |    <demographics_1>AAA</demographics_1>
        |  </demographics>
        |  <no_path_or_att><![CDATA[Another value]]></no_path_or_att>
        |  <pathology>
        |    <sample><pathology_date>2021-01-01</pathology_date><pathology_id>DDD</pathology_id></sample>
        |    <sample><pathology_date>2022-01-01</pathology_date><pathology_id>EEE</pathology_id></sample>
        |  </pathology>
        |  <no_relative_path value="A value"/>
        |</record>
        |<record>
        |  <demographics>
        |    <address><address_line1>Address</address_line1><address_line1>Address 2</address_line1></address>
        |    <demographics_2 code="03">Inner text</demographics_2>
        |    <demographics_1>AAA</demographics_1>
        |  </demographics>
        |  <no_path_or_att><![CDATA[Another value]]></no_path_or_att>
        |  <pathology>
        |    <sample><pathology_date>2023-01-01</pathology_date><pathology_id>FFF</pathology_id></sample>
        |  </pathology>
        |  <no_relative_path value="A value"/>
        |</record>
        |</root>""".stripMargin
    val mapping = TableMapping(columns = repeatingMapping)
    val recs = graft.sources.XmlSource.splitRecords(xml, "record", patternMatch = false)
    assert(recs.length == 3)

    val out = recs.zipWithIndex.flatMap { case (r, i) =>
      XmlTable.transformRecord(mapping, scala.xml.XML.loadString(r), i.toLong)
    }

    val expected = Seq(
      ("SomeTestKlass#1", Map(
        "pathology_date_1.1" -> "2018-01-01", "pathology_id_1.1" -> "AAA",
        "pathology_date_1.2" -> "2019-01-01", "pathology_id_1.2" -> "BBB"), 0L),
      ("SomeTestKlass#2", Map(
        "pathology_date_2" -> "2020-01-01", "pathology_id_2" -> "CCC"), 0L),
      ("SomeTestKlass#1", Map(
        "pathology_date_1" -> "2021-01-01", "pathology_id_1" -> "DDD"), 1L),
      ("SomeTestKlass#2", Map(
        "pathology_date_2" -> "2022-01-01", "pathology_id_2" -> "EEE"), 1L),
      ("SomeTestKlass", Map(
        "no_relative_path" -> "A value", "no_path_or_att" -> "Another value",
        "demographics_1" -> "AAA", "demographics_2" -> "03",
        "demographics_2_inner_text" -> "Inner text", "address" -> "",
        "pathology_date" -> "2023-01-01", "pathology_id" -> "FFF",
        "should_be_blank" -> "", "address_1" -> "Address",
        "address_2" -> "Address 2"), 2L))
    assert(out.map(o => (o._1, o._3, o._4)) == expected.map(e => (e._1, e._2, e._3)))
  }

  test("unique column mappings: nested repeats get dotted increments") {
    val xml =
      """<record>
        |  <Section>
        |    <SubSection><data_item code="01"/></SubSection>
        |    <SubSection><data_item code="02"/></SubSection>
        |  </Section>
        |  <Section>
        |    <SubSection><data_item code="03"/></SubSection>
        |    <SubSection><data_item code="04"/></SubSection>
        |  </Section>
        |</record>""".stripMargin
    val mapping = TableMapping(columns = Seq(
      cm("data_item", "SomeTestKlass", rel = "Section/SubSection", attr = "code",
         multiple = true, buildNewRecord = false, incrementFieldName = true,
         mappings = Seq(FieldMapping(field = "data_item")))))
    val rec = scala.xml.XML.loadString(xml)
    val (augCols, augXpaths) = XmlTable.augment(mapping, rec)
    assert(augXpaths == Seq(
      "Section/SubSection/data_item/@code",
      "Section[1]/SubSection[1]/data_item/@code",
      "Section[1]/SubSection[2]/data_item/@code",
      "Section[2]/SubSection[1]/data_item/@code",
      "Section[2]/SubSection[2]/data_item/@code"))
    assert(augCols(1).rawtextName.contains("data_item_1.1"))
    assert(augCols(1).mappings.head.field == "data_item_1.1")
    assert(augCols(4).rawtextName.contains("data_item_2.2"))

    val out = XmlTable.transformRecord(mapping, rec, 0L)
    assert(out.length == 1)
    val (klass, fields, rawtext, _) = out.head
    assert(klass == "SomeTestKlass")
    assert(fields == Map(
      "data_item_1.1" -> "01", "data_item_1.2" -> "02",
      "data_item_2.1" -> "03", "data_item_2.2" -> "04"))
    assert(rawtext == Map(
      "data_item" -> "", "data_item_1.1" -> "01", "data_item_1.2" -> "02",
      "data_item_2.1" -> "03", "data_item_2.2" -> "04"))
  }

  test("nesting of same-name same-attr elements raises NestingError") {
    val ok = "<root><SameName><SameName code=\"N\"/></SameName></root>"
    assert(graft.sources.XmlSource.splitRecords(ok, "SameName", false).nonEmpty)
    val bad = "<root><SameName><SameName/></SameName></root>"
    intercept[graft.sources.XmlSource.NestingError] {
      graft.sources.XmlSource.splitRecords(bad, "SameName", false)
    }
  }

  test("streaming records variant matches the batch split (bounded memory)") {
    val dir = java.nio.file.Files.createTempDirectory("xmlstream")
    val xml = "<root>" + (1 to 50).map(i =>
      s"<record><id>$i</id><v a='x$i'>payload $i</v></record>").mkString + "</root>"
    java.nio.file.Files.write(dir.resolve("big.xml"), xml.getBytes("UTF-8"))
    val mapping = graft.model.TableMapping(xmlRecordXpath = Some("record"))
    val batch = graft.sources.XmlSource.records(spark, Seq(dir.toString + "/big.xml"), mapping)
      .orderBy("index").select("record_xml").collect().map(_.getString(0))
    val streamed = graft.sources.XmlSource.recordsStreaming(spark, Seq(dir.toString + "/big.xml"), mapping)
      .orderBy("index").select("record_xml").collect().map(_.getString(0))
    assert(batch.length == 50 && streamed.length == 50)
    assert(batch.toSeq == streamed.toSeq)
  }

  test("streaming records decode UTF-16 (BOM) and Windows-1252 like the batch probe") {
    val dir = java.nio.file.Files.createTempDirectory("xmlenc")
    val mapping = graft.model.TableMapping(xmlRecordXpath = Some("record"))
    val xml = "<root><record><v>café über</v></record></root>"
    // UTF-16LE with BOM (no XML prolog — the reader charset must come from
    // the byte probe, not the parser default)
    val utf16 = ("﻿" + xml).getBytes("UTF-16LE")
    java.nio.file.Files.write(dir.resolve("u16.xml"), utf16)
    // Windows-1252 (é = 0xE9, invalid as UTF-8)
    java.nio.file.Files.write(dir.resolve("w1252.xml"), xml.getBytes("windows-1252"))
    for (f <- Seq("u16.xml", "w1252.xml")) {
      val batch = graft.sources.XmlSource.records(spark, Seq(s"$dir/$f"), mapping)
        .select("record_xml").collect().map(_.getString(0))
      val streamed = graft.sources.XmlSource.recordsStreaming(spark, Seq(s"$dir/$f"), mapping)
        .select("record_xml").collect().map(_.getString(0))
      assert(batch.toSeq == streamed.toSeq, f)
      assert(streamed.head.contains("café"), s"$f: ${streamed.head}")
    }
  }

  test("X5 groupedRecords batches one row per source record (table.rb:41-53)") {
    import spark.implicits._
    val mapping = TableMapping(columns = repeatingMapping)
    val xml =
      """<root>
        |<record>
        |  <no_relative_path value="A value"/>
        |  <no_path_or_att>Another value</no_path_or_att>
        |  <demographics>
        |    <demographics_1>AAA</demographics_1>
        |    <address><address_line1>Address</address_line1><address_line1>Address 2</address_line1></address>
        |    <demographics_2 code="03">Inner text</demographics_2>
        |  </demographics>
        |  <pathology>
        |    <sample><pathology_date>2018-01-01</pathology_date><pathology_id>AAA</pathology_id></sample>
        |    <sample><pathology_date>2019-01-01</pathology_date><pathology_id>BBB</pathology_id></sample>
        |  </pathology>
        |  <pathology>
        |    <sample><pathology_date>2020-01-01</pathology_date><pathology_id>CCC</pathology_id></sample>
        |  </pathology>
        |</record>
        |<record>
        |  <no_relative_path value="B value"/>
        |  <no_path_or_att>Another value</no_path_or_att>
        |  <demographics>
        |    <demographics_1>AAA</demographics_1>
        |    <address><address_line1>Address</address_line1><address_line1>Address 2</address_line1></address>
        |    <demographics_2 code="03">Inner text</demographics_2>
        |  </demographics>
        |  <pathology>
        |    <sample><pathology_date>2023-01-01</pathology_date><pathology_id>FFF</pathology_id></sample>
        |  </pathology>
        |</record>
        |</root>""".stripMargin
    val recs = graft.sources.XmlSource.splitRecords(xml, "record", patternMatch = false)
    val df = recs.zipWithIndex
      .map { case (r, i) => ("mem.xml", i.toLong, r) }
      .toDF("file", "index", "record_xml")

    val grouped = XmlTable.groupedRecords(df, mapping).orderBy("index").collect()
    assert(grouped.length == 2) // one row per source XML record
    val batch0 = grouped(0).getSeq[org.apache.spark.sql.Row](grouped(0).fieldIndex("records"))
    // record 0 fans to the two masked repeat-klasses, batched together in
    // yield order (#1 before #2)
    assert(batch0.map(_.getString(0)) == Seq("SomeTestKlass#1", "SomeTestKlass#2"))
    val raw01 = batch0(0).getMap[String, String](2)
    assert(raw01("pathology_date_1.1") == "2018-01-01" &&
      raw01("pathology_date_1.2") == "2019-01-01")
    // record 1 has no repeat beyond one pathology group per base klass: a
    // single batched record carrying the whole flattened rawtext
    val batch1 = grouped(1).getSeq[org.apache.spark.sql.Row](grouped(1).fieldIndex("records"))
    assert(batch1.map(_.getString(0)) == Seq("SomeTestKlass"))
    assert(batch1(0).getMap[String, String](2)("no_relative_path") == "B value")
  }

  test("pattern_match_record_xpath: regex on root children names") {
    val xml = "<root><recordOne><a>1</a></recordOne><other><b>2</b></other>" +
      "<recordTwo><a>3</a></recordTwo></root>"
    val recs = graft.sources.XmlSource.splitRecords(xml, "record", patternMatch = true)
    assert(recs.length == 2)
  }
}
