package graft

import graft.core.{Schemas, StudyDiscovery, TsvReader}
import graft.operators.{CnaOps, MutationOps}
import graft.pipelines.Pipelines
import graft.sinks.ParquetSink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Reference-parity golden tests over the FIXTURES.md §A miniature studies.
  * Goldens are hand-computed from the reference's transform semantics
  * (cna/transformer.go, mutation/transformer.go). */
class ParitySpec extends SparkSpec {

  val studies = "src/test/resources/studies"

  test("O5/O6/O7: discovery finds, pairs, skips case_lists, sorts") {
    val cna = StudyDiscovery.findCnaFiles(studies)
    assert(cna.map(f => Paths.get(f.path).getFileName.toString) == Seq("data_cna.txt"))
    assert(cna.head.cancerStudyId == "study_a")
    assert(cna.head.geneticProfileId == "study_a_gistic")

    val mut = StudyDiscovery.findMutationFiles(studies)
    assert(mut.size == 2) // study_a then study_b (path-sorted)
    assert(mut.map(_.cancerStudyId) == Seq("study_a", "study_b"))
    assert(mut.map(_.geneticProfileId) ==
      Seq("study_a_mutations", "study_b_mutations"))
    // nothing under case_lists is ever discovered
    assert(!cna.exists(_.path.contains("case_lists")))
    assert(!mut.exists(_.path.contains("case_lists")))
  }

  test("O1/O3: TSV read — all-string schema from header") {
    val df = TsvReader.readTsv(spark, s"$studies/study_a/data_cna.txt")
    assert(df.columns.toSeq ==
      Seq("Hugo_Symbol", "Entrez_Gene_Id", "TCGA-S1", "TCGA-S2", "TCGA-S3"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 2)
  }

  test("O2: MAF read skips # comments") {
    val df = TsvReader.readTsv(spark, s"$studies/study_a/data_mutations.txt")
    assert(df.count() == 3)
    assert(df.columns.contains("HGVSp_Short"))
  }

  test("O8: CNA pack — gene-centric VALUES in source column order") {
    val df = TsvReader.readTsv(spark, s"$studies/study_a/data_cna.txt")
    val ga = CnaOps.packGeneCentric(df, "study_a", "study_a_gistic")
    assert(ga.columns.toSeq == Schemas.geneticAlteration.fieldNames.toSeq)
    val rows = ga.collect().map(r => (r.getString(2), r.getString(3))).toSeq
    assert(rows == Seq("BRCA1" -> "0,-1,2", "TP53" -> "1,0,-2"))
    assert(ga.collect().forall(r =>
      r.getString(0) == "study_a" && r.getString(1) == "study_a_gistic"))
  }

  test("O9/O10: sample list — single row, prefixed, source order") {
    val df = TsvReader.readTsv(spark, s"$studies/study_a/data_cna.txt")
    val gps = CnaOps.sampleList(spark, df.columns.toSeq, "study_a", "study_a_gistic")
    val rows = gps.collect()
    assert(rows.length == 1) // the reference's 1-row assert (cna/transformer.go:553-560)
    assert(rows.head.getString(2) == "study_a_TCGA-S1,study_a_TCGA-S2,study_a_TCGA-S3")
  }

  test("O11: unpivot derived — 6 rows, reference column-major order reproducible") {
    val df = TsvReader.readTsv(spark, s"$studies/study_a/data_cna.txt")
    val d = CnaOps.unpivotDerived(df, "study_a", "study_a_gistic", withOrder = true)
    import org.apache.spark.sql.functions.col
    val ordered = d.orderBy(col("__sample_pos"), col("__gene_pos"))
      .drop("__sample_pos", "__gene_pos").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(4))).toSeq
    // reference emits sample-outer (cna/transformer.go:591-606)
    assert(ordered == Seq(
      ("study_a_TCGA-S1", "BRCA1", "0"), ("study_a_TCGA-S1", "TP53", "1"),
      ("study_a_TCGA-S2", "BRCA1", "-1"), ("study_a_TCGA-S2", "TP53", "0"),
      ("study_a_TCGA-S3", "BRCA1", "2"), ("study_a_TCGA-S3", "TP53", "-2")))
    val plain = CnaOps.unpivotDerived(df, "study_a", "study_a_gistic")
    assert(plain.columns.toSeq == Schemas.cnaDerived.fieldNames.toSeq)
  }

  test("O13/O14/O15/O16: MAF transform — schemas, mapping, drift fill, ids") {
    val df = TsvReader.readTsv(spark, s"$studies/study_a/data_mutations.txt")
    val (stamped, staged) = MutationOps.withContiguousId(df)
    val (ev, mu) = MutationOps.transformMaf(stamped, "study_a", "study_a_mutations")
    assert(ev.columns.toSeq == Schemas.mutationEvent.fieldNames.toSeq)
    assert(mu.columns.toSeq == Schemas.mutation.fieldNames.toSeq)
    val evRows = ev.orderBy("MUTATION_EVENT_ID").collect()
    assert(evRows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val first = evRows.head
    def f(name: String) = first.getString(ev.columns.indexOf(name))
    assert(f("TUMOR_SEQ_ALLELE") == "G")      // ← Tumor_Seq_Allele2
    assert(f("PROTEIN_CHANGE") == "p.V600E")  // ← HGVSp_Short
    assert(f("MUTATION_TYPE") == "Missense_Mutation") // ← Variant_Classification
    assert(f("REFSEQ_MRNA_ID") == "" && f("KEYWORD") == "") // always-"" cols
    // drift: this MAF has no Matched_Norm_Sample_Barcode → ""
    val muFirst = mu.orderBy("MUTATION_EVENT_ID").collect().head
    def m(name: String) = muFirst.getString(mu.columns.indexOf(name))
    assert(m("SAMPLE_ID") == "study_a_TCGA-S1")
    assert(m("MATCHED_NORM_SAMPLE_BARCODE") == "")
    assert(m("AMINO_ACID_CHANGE") == "p.V600E")
    assert(m("ANNOTATION_JSON") == "")
    staged.close()
  }

  test("O16: id contiguity invariant across files (per-file offsets)") {
    val tmp = Files.createTempDirectory("graft_mut").toString
    // copy fixtures so pipeline outputs don't pollute src/test/resources
    for (s <- Seq("study_a", "study_b")) {
      Files.createDirectories(Paths.get(s"$tmp/$s"))
      for (n <- Seq("meta_mutations.txt", "data_mutations.txt"))
        Files.copy(Paths.get(s"$studies/$s/$n"), Paths.get(s"$tmp/$s/$n"))
    }
    val written = Pipelines.convertMutations(spark, tmp)
    assert(written.size == 4)
    val allEvents = spark.read.parquet(
      written.filter(_.endsWith("_mutation_event.parquet")): _*)
    val ids = allEvents.select("MUTATION_EVENT_ID")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 5L)) // 3 rows study_a + 2 rows study_b, contiguous
  }

  test("O18: convert-cna pipeline + combine round trip") {
    val tmp = Files.createTempDirectory("graft_cna").toString
    Files.createDirectories(Paths.get(s"$tmp/study_a"))
    for (n <- Seq("meta_cna.txt", "data_cna.txt"))
      Files.copy(Paths.get(s"$studies/study_a/$n"), Paths.get(s"$tmp/study_a/$n"))
    val written = Pipelines.convertCna(spark, tmp, withDerived = true)
    assert(written.size == 3)
    val combined = Pipelines.combine(spark, s"$tmp/study_a", "combined",
      Pipelines.cnaDerivedSuffixes)
    assert(combined.size == 3)
    val ga = spark.read.parquet(combined.head)
    assert(ga.count() == 2)
    assert(ga.schema == spark.read.parquet(written.head).schema)
    // self-exclusion: recombining the same dir must not double-count
    val again = Pipelines.combine(spark, s"$tmp/study_a", "combined",
      Seq("genetic_alterations"))
    assert(spark.read.parquet(again.head).count() == 2)
  }

  private def writeUtf8(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }

  private def meta(study: String, stableId: String, data: String) =
    s"cancer_study_identifier: $study\nstable_id: $stableId\ndata_filename: $data\n"

  test("O3: a non-ASCII sample column survives into ORDERED_SAMPLE_LIST and SAMPLE_ID") {
    val tmp = Files.createTempDirectory("graft_utf8").toString
    val sample = "S\u00e9-01"
    writeUtf8(s"$tmp/study_u/meta_cna.txt", meta("study_u", "gistic", "data_cna.txt"))
    writeUtf8(s"$tmp/study_u/data_cna.txt",
      s"Hugo_Symbol\tEntrez_Gene_Id\tTCGA-S1\t$sample\nBRCA1\t672\t0\t-1\n")
    val written = Pipelines.convertCna(spark, tmp, withDerived = true)
    val Seq(_, gps, derived) = written
    assert(spark.read.parquet(gps).select("ORDERED_SAMPLE_LIST").head().getString(0) ==
      s"study_u_TCGA-S1,study_u_$sample")
    assert(spark.read.parquet(derived).select("SAMPLE_ID").collect().map(_.getString(0))
      .toSet == Set("study_u_TCGA-S1", s"study_u_$sample"))
  }

  test("TsvReader rejects a file without a header line, naming it") {
    val tmp = Files.createTempDirectory("graft_nohdr").toString
    for ((name, text) <- Seq("empty.txt" -> "", "comments.txt" -> "#a\n#b\n")) {
      writeUtf8(s"$tmp/$name", text)
      val e = intercept[IllegalArgumentException](TsvReader.readTsv(spark, s"$tmp/$name"))
      assert(e.getMessage.contains(s"$tmp/$name"))
    }
  }

  test("convert-cna: one empty matrix among three fails the call, naming that file") {
    val tmp = Files.createTempDirectory("graft_cna_fail").toString
    val cna = Files.readString(Paths.get(s"$studies/study_a/data_cna.txt"))
    for (st <- Seq("study_a", "study_b", "study_c")) {
      writeUtf8(s"$tmp/$st/meta_cna.txt", meta(st, "gistic", "data_cna.txt"))
      writeUtf8(s"$tmp/$st/data_cna.txt", if (st == "study_b") "" else cna)
    }
    val e = intercept[IllegalArgumentException](Pipelines.convertCna(spark, tmp))
    assert(e.getMessage.contains(s"$tmp/study_b/data_cna.txt"))
  }

  test("convert-mutations: one empty MAF among three — the others write with contiguous ids, the call lists the bad file") {
    val tmp = Files.createTempDirectory("graft_mut_fail").toString
    val sources = Map("study_a" -> "study_a", "study_c" -> "study_b")
    for (st <- Seq("study_a", "study_b", "study_c")) {
      writeUtf8(s"$tmp/$st/meta_mutations.txt", meta(st, "mutations", "data_mutations.txt"))
      writeUtf8(s"$tmp/$st/data_mutations.txt", sources.get(st).fold("")(src =>
        Files.readString(Paths.get(s"$studies/$src/data_mutations.txt"))))
    }
    val e = intercept[RuntimeException](Pipelines.convertMutations(spark, tmp))
    assert(e.getMessage.contains("1 file(s) failed"))
    assert(e.getMessage.contains(s"$tmp/study_b/data_mutations.txt"))
    val events = Seq("study_a", "study_c").map(st =>
      ParquetSink.derivePath(s"$tmp/$st/data_mutations.txt", "mutation_event"))
    val ids = spark.read.parquet(events: _*).select("MUTATION_EVENT_ID")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 5L)) // 3 rows study_a + 2 rows study_c
    assert(!Files.exists(Paths.get(
      ParquetSink.derivePath(s"$tmp/study_b/data_mutations.txt", "mutation_event"))))
  }

  test("combine: a directory given with a trailing slash still self-excludes the earlier output") {
    val tmp = Files.createTempDirectory("graft_slash").toString
    Files.createDirectories(Paths.get(s"$tmp/study_a"))
    for (n <- Seq("meta_cna.txt", "data_cna.txt"))
      Files.copy(Paths.get(s"$studies/study_a/$n"), Paths.get(s"$tmp/study_a/$n"))
    Pipelines.convertCna(spark, tmp, withDerived = true)
    def counts() = Pipelines.combine(spark, s"$tmp/study_a/", "combined",
      Pipelines.cnaDerivedSuffixes).map(spark.read.parquet(_).count())
    assert(counts() == Seq(2L, 1L, 6L))
    assert(counts() == Seq(2L, 1L, 6L)) // the first run's outputs are not inputs
  }

  test("O1/O2: a CNA matrix with a leading # line converts to exactly its gene rows") {
    val tmp = Files.createTempDirectory("graft_hash").toString
    val cna = Files.readString(Paths.get(s"$studies/study_a/data_cna.txt"))
    writeUtf8(s"$tmp/study_h/meta_cna.txt", meta("study_h", "gistic", "data_cna.txt"))
    writeUtf8(s"$tmp/study_h/data_cna.txt", "#version 2\n" + cna)
    val Seq(ga, gps, derived) = Pipelines.convertCna(spark, tmp, withDerived = true)
    assert(spark.read.parquet(ga).select("GENE_SYMBOL").collect().map(_.getString(0))
      .sorted.toSeq == Seq("BRCA1", "TP53"))
    assert(spark.read.parquet(gps).select("ORDERED_SAMPLE_LIST").head().getString(0) ==
      "study_h_TCGA-S1,study_h_TCGA-S2,study_h_TCGA-S3")
    assert(spark.read.parquet(derived).count() == 6)
    // the comment changes nothing the reader returns
    assert(TsvReader.readTsv(spark, s"$tmp/study_h/data_cna.txt").collect().toSeq ==
      TsvReader.readTsv(spark, s"$studies/study_a/data_cna.txt").collect().toSeq)
  }

  test("combine refuses inputs whose column names differ, naming the odd file, and writes nothing") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_mismatch").toString
    val rows = Seq(("study_a", "p", "BRCA1", "0,1"))
    ParquetSink.write(rows.toDF("CANCER_STUDY", "GENETIC_PROFILE", "GENE_SYMBOL", "VALUES"),
      s"$tmp/a_genetic_alterations.parquet", singleFile = true)
    ParquetSink.write(rows.toDF("CANCER_STUDY", "GENETIC_PROFILE", "GENE", "VALUES"),
      s"$tmp/b_genetic_alterations.parquet", singleFile = true)
    val e = intercept[IllegalArgumentException](
      Pipelines.combine(spark, tmp, "combined", Seq("genetic_alterations")))
    assert(e.getMessage.contains(s"$tmp/b_genetic_alterations.parquet"))
    assert(Files.list(Paths.get(tmp)).toArray.map(_.toString).sorted.toSeq ==
      Seq(s"$tmp/a_genetic_alterations.parquet", s"$tmp/b_genetic_alterations.parquet"))
  }

  test("combine: rows come in sorted input-path order, whatever the file sizes and column orders") {
    val tmp = Files.createTempDirectory("graft_order").toString
    ParquetSink.write(spark.range(0, 3).selectExpr("id", "-id AS v"),
      s"$tmp/a_t.parquet", singleFile = true)
    ParquetSink.write(spark.range(100, 5100).selectExpr("-id AS v", "id"),
      s"$tmp/b_t.parquet", singleFile = true)
    val Seq(out) = Pipelines.combine(spark, tmp, "combined", Seq("t"))
    val combined = spark.read.parquet(out)
    assert(combined.columns.toSeq == Seq("id", "v"))
    assert(combined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      ((0L until 3L) ++ (100L until 5100L)).map(i => (i, -i)))
  }

  private def listing(dir: String): Seq[String] =
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true)
      .toArray.map(_.toString).sorted.toSeq

  test("combine checks every data file of an input directory, naming the odd part file, and writes nothing") {
    import spark.implicits._
    // two one-row tables written apart, their part files then moved into
    // one table directory as part-00000 and part-00001
    val tmp = Files.createTempDirectory("graft_parts").toString
    val table = Files.createDirectories(Paths.get(s"$tmp/a_t.parquet"))
    for ((df, i) <- Seq(Seq(("BRCA1", 1)).toDF("GENE", "N"),
        Seq(("TP53", 3)).toDF("GENE_SYMBOL", "N")).zipWithIndex) {
      val one = new java.io.File(s"$tmp/one$i.parquet")
      ParquetSink.write(df, one.toString, singleFile = true)
      val Seq(data) = one.listFiles().toSeq.filterNot(_.getName.startsWith("."))
      Files.move(data.toPath, table.resolve(f"part-$i%05d.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(one)
    }
    val before = listing(tmp)
    val e = intercept[IllegalArgumentException](
      Pipelines.combine(spark, tmp, "combined", Seq("t")))
    assert(e.getMessage.contains(s"$tmp/a_t.parquet/part-00001.parquet"))
    assert(listing(tmp) == before)
  }

  test("combine refuses a column stored with another Parquet repetition, naming the file, the column and both types") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_physical").toString
    ParquetSink.write(spark.range(3).toDF("id"), s"$tmp/a_t.parquet", singleFile = true)
    ParquetSink.write(Seq(Option(5L)).toDF("id"), s"$tmp/b_t.parquet", singleFile = true)
    val before = listing(tmp)
    val e = intercept[IllegalArgumentException](
      Pipelines.combine(spark, tmp, "combined", Seq("t")))
    for (part <- Seq(s"$tmp/b_t.parquet/part-", "column id",
        "required int64 id", "optional int64 id"))
      assert(e.getMessage.contains(part), e.getMessage)
    assert(listing(tmp) == before)
  }
}
