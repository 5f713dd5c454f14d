package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded input generators. Every generated value is a pure function of the
  * seed and its coordinates, so one seed always gives byte-identical inputs,
  * and the output checks recompute any expected value without keeping the
  * inputs in memory. The engine only ever receives the generated files or
  * DataFrames. */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c)

  /** Non-negative draw in [0, n). */
  def pick(x: Long, n: Long): Long = java.lang.Math.floorMod(x, n)

  // ───────────────────────── import: a datahub tree ─────────────────────────

  final case class CnaFile(path: String, study: String, stableId: String,
      idx: Int, genes: Int, samples: Seq[String])
  final case class MafFile(path: String, study: String, idx: Int, rows: Int,
      columns: Seq[String])
  final case class Study(id: String, dir: String, cna: Seq[CnaFile],
      mafs: Seq[MafFile])
  final case class Hub(root: String, studies: Seq[Study], tsvBytes: Long) {
    def cnaFiles: Seq[CnaFile] = studies.flatMap(_.cna)
    def mafFiles: Seq[MafFile] = studies.flatMap(_.mafs)
  }

  val mafColumns: Seq[String] = Seq("Hugo_Symbol", "Entrez_Gene_Id", "Center",
    "NCBI_Build", "Chromosome", "Start_Position", "End_Position", "Strand",
    "Variant_Classification", "Variant_Type", "Reference_Allele",
    "Tumor_Seq_Allele1", "Tumor_Seq_Allele2", "dbSNP_RS", "dbSNP_Val_Status",
    "Tumor_Sample_Barcode", "Matched_Norm_Sample_Barcode",
    "Match_Norm_Seq_Allele1", "Match_Norm_Seq_Allele2", "Verification_Status",
    "Validation_Status", "Mutation_Status", "Sequencing_Phase",
    "Sequence_Source", "Validation_Method", "Score", "BAM_File", "Sequencer",
    "HGVSp_Short", "t_alt_count", "t_ref_count", "n_alt_count", "n_ref_count")

  /** Columns the drifted study's MAF leaves out; the importer must emit
    * them as "". */
  val droppedMafColumns: Seq[String] =
    Seq("Center", "Sequencer", "dbSNP_RS", "n_alt_count", "n_ref_count")

  def geneName(g: Int): String = f"GENE$g%05d"

  /** One CNA cell. About 1 % of cells are empty, which the importer must
    * keep as an empty position in VALUES. */
  def cnaCell(seed: Long, file: Int, g: Int, s: Int): String = {
    val x = h(seed, 11L + file, g, s)
    if (pick(x, 100) == 0) "" else (pick(x >>> 8, 5) - 2).toString
  }

  private val alleles = Array("A", "C", "G", "T")
  private val classes = Array("Missense_Mutation", "Nonsense_Mutation",
    "Silent", "Frame_Shift_Del", "Splice_Site")

  def mafCell(seed: Long, file: Int, row: Int, c: String,
      samples: Seq[String]): String = {
    val x = h(seed, 1000L + file, row, c.hashCode)
    c match {
      case "Hugo_Symbol" => geneName(pick(x, 5000).toInt)
      case "Entrez_Gene_Id" => (1000 + pick(x, 5000)).toString
      case "Chromosome" => (1 + pick(x, 22)).toString
      case "Start_Position" | "End_Position" => (1000 + pick(x, 100000000)).toString
      case "Strand" => "+"
      case "NCBI_Build" => "GRCh37"
      case "Variant_Classification" => classes(pick(x, classes.length).toInt)
      case "Variant_Type" => "SNP"
      case "Reference_Allele" | "Tumor_Seq_Allele1" | "Tumor_Seq_Allele2" |
           "Match_Norm_Seq_Allele1" | "Match_Norm_Seq_Allele2" =>
        alleles(pick(x, 4).toInt)
      case "Tumor_Sample_Barcode" => samples(pick(x, samples.size).toInt)
      case "Matched_Norm_Sample_Barcode" =>
        samples(pick(x, samples.size).toInt) + "-N"
      case "HGVSp_Short" => s"p.X${pick(x, 900)}Y"
      case "dbSNP_RS" => s"rs${pick(x, 10000000)}"
      case c if c.endsWith("_count") || c == "Score" => pick(x, 200).toString
      case _ => s"v${pick(x, 8)}"
    }
  }

  private def writer(p: Path): BufferedWriter = {
    Files.createDirectories(p.getParent)
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p),
      StandardCharsets.UTF_8), 1 << 16)
  }

  private def writeText(p: Path, s: String): Unit = {
    val w = writer(p); try w.write(s) finally w.close()
  }

  /** A cBioPortal-style datahub: each study has a CNA matrix and a MAF
    * with their meta files and a `case_lists/` directory the importer
    * must skip (it holds a decoy CNA matrix that would change the counts).
    * Study 0's MAFs lack `droppedMafColumns` and carry `#` comment lines
    * before the header and between data rows. */
  def writeHub(root: Path, seed: Long, studies: Int, genes: Int,
      samples: Int, mafRows: Int): Hub = {
    var fileIdx = 0
    val ss = (0 until studies).map { si =>
      val id = f"study$si%02d_${pick(h(seed, 7, si), 1000)}%03d"
      val dir = root.resolve(id)
      val sampleIds = (0 until samples).map(s => f"TCGA-$si%02d-$s%04d")
      val cna = Seq("gistic" -> "data_cna.txt")
        .map { case (stable, name) =>
          val f = fileIdx; fileIdx += 1
          writeText(dir.resolve(name.replace("data_", "meta_")),
            s"cancer_study_identifier: $id\ngenetic_alteration_type: COPY_NUMBER_ALTERATION\n" +
              s"stable_id: $stable\ndata_filename: $name\n")
          val w = writer(dir.resolve(name))
          try {
            w.write(("Hugo_Symbol" +: "Entrez_Gene_Id" +: sampleIds).mkString("\t"))
            w.write('\n')
            var g = 0
            while (g < genes) {
              w.write(geneName(g)); w.write('\t'); w.write((1000 + g).toString)
              var s = 0
              while (s < samples) { w.write('\t'); w.write(cnaCell(seed, f, g, s)); s += 1 }
              w.write('\n'); g += 1
            }
          } finally w.close()
          CnaFile(dir.resolve(name).toString, id, stable, f, genes, sampleIds)
        }
      val drifted = si == 0
      val cols = if (drifted) mafColumns.filterNot(droppedMafColumns.contains)
        else mafColumns
      val mafs = Seq("mutations" -> "data_mutations.txt")
        .map { case (stable, name) =>
          val f = fileIdx; fileIdx += 1
          writeText(dir.resolve(name.replace("data_", "meta_")),
            s"# generated study\ncancer_study_identifier: $id\n" +
              s"stable_id: $stable\ndata_filename: $name\n")
          val w = writer(dir.resolve(name))
          try {
            w.write("#version 2.4\n")
            if (drifted) w.write("#filter: PASS only\n")
            w.write(cols.mkString("\t")); w.write('\n')
            var r = 0
            while (r < mafRows) {
              if (drifted && r > 0 && r % 997 == 0) w.write(s"#checkpoint $r\n")
              w.write(cols.map(c => mafCell(seed, f, r, c, sampleIds)).mkString("\t"))
              w.write('\n'); r += 1
            }
          } finally w.close()
          MafFile(dir.resolve(name).toString, id, f, mafRows, cols)
        }
      writeText(dir.resolve("case_lists").resolve("cases_all.txt"),
        s"cancer_study_identifier: $id\nstable_id: ${id}_all\ncase_list_ids: " +
          sampleIds.mkString("\t") + "\n")
      writeText(dir.resolve("case_lists").resolve("meta_decoy_cna.txt"),
        s"cancer_study_identifier: $id\nstable_id: decoy\ndata_filename: data_decoy_cna.txt\n")
      writeText(dir.resolve("case_lists").resolve("data_decoy_cna.txt"),
        "Hugo_Symbol\tEntrez_Gene_Id\tX\nDECOY\t1\t0\n")
      Study(id, dir.toString, cna, mafs)
    }
    val bytes = (ss.flatMap(_.cna).map(_.path) ++ ss.flatMap(_.mafs).map(_.path))
      .map(p => Files.size(java.nio.file.Paths.get(p))).sum
    Hub(root.toString, ss, bytes)
  }

  // ───────────────────────── ingest: table rows ─────────────────────────

  val categories: Array[String] = Array.tabulate(16)(i => f"cat$i%02d")

  def amount(seed: Long, id: Long, gen: Int = 0): Long =
    pick(h(seed, 21L + gen, id), 1000000L)
  def tag(seed: Long, id: Long): String = f"t${h(seed, 22, id)}%016x"
  def cat(seed: Long, id: Long): String =
    categories(pick(h(seed, 23, id), categories.length).toInt)

  /** 32-bit row fingerprint, summed into the ingest checksum. */
  def rowHash(id: Long, amount: Long, tag: String): Long =
    mix(id * 31 + amount ^ tag.hashCode.toLong) & 0xFFFFFFFFL

  /** Rows with ids [lo, hi) in `parts` contiguous partitions — one data file
    * each when committed. `gen` selects a second amount draw (upserts). */
  def rows(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int,
      gen: Int = 0): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1, parts).as[Long]
      .map(id => (id, amount(seed, id, gen), tag(seed, id), cat(seed, id)))
      .toDF("id", "amount", "tag", "cat")
  }
}
