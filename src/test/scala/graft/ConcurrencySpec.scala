package graft

import graft.operators.MutationOps
import graft.pipelines.Pipelines
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._

/** The importer runs its independent writes from threads of its own: the
  * caller's local properties must reach every job, and concurrent id
  * stamping must not share or release another caller's persisted input. */
class ConcurrencySpec extends SparkSpec {

  val studies = "src/test/resources/studies"

  test("every job of convertCna, convertMutations and combine carries the caller's job group and local property") {
    val tmp = Files.createTempDirectory("graft_props").toString
    for ((st, names) <- Seq(
        "study_a" -> Seq("meta_cna.txt", "data_cna.txt", "meta_mutations.txt",
          "data_mutations.txt"),
        "study_b" -> Seq("meta_mutations.txt", "data_mutations.txt"))) {
      Files.createDirectories(Paths.get(s"$tmp/$st"))
      names.foreach(n => Files.copy(Paths.get(s"$studies/$st/$n"), Paths.get(s"$tmp/$st/$n")))
    }
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.properties)
    }
    Bridge.waitListenerBusEmpty(spark)
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-import", "concurrent import")
    sc.setLocalProperty("graft.test.tag", "caller")
    try {
      Pipelines.convertCna(spark, tmp, withDerived = true)
      Pipelines.convertMutations(spark, tmp)
      Pipelines.combine(spark, s"$tmp/study_a", "combined", Pipelines.cnaDerivedSuffixes)
      Pipelines.combine(spark, s"$tmp/study_a", "combined", Pipelines.mutationSuffixes)
      Bridge.waitListenerBusEmpty(spark)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setLocalProperty("graft.test.tag", null)
    }
    val props = jobs.asScala.toSeq
    // one per scan: the matrix, each MAF's staging and its write (the
    // combined tables are copied on the driver, with no job)
    assert(props.size == 5, s"${props.size} jobs")
    props.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") == "graft-import")
      assert(p.getProperty("graft.test.tag") == "caller")
    }
  }

  test("two threads stage and stamp their own inputs at once; ids are right and nothing stays persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val inputs = Seq(((0 until 300).toDF("v").repartition(3), 0L),
      ((0 until 200).toDF("v").repartition(4), 1000L))
    val staged = new CountDownLatch(inputs.size)
    val go = new CountDownLatch(1)
    val ids = new Array[Seq[Long]](inputs.size)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = inputs.zipWithIndex.map { case ((df, start), i) =>
      val t = new Thread(() => try {
        val s = MutationOps.stage(df)
        staged.countDown()
        go.await()
        try ids(i) = s.stamp(start, "id").select("id").collect().map(_.getLong(0)).toSeq
        finally s.close()
      } catch { case e: Throwable => errors.add(e); staged.countDown() })
      t.start()
      t
    }
    staged.await()
    // both inputs live at once: neither call released the other's
    val live = sc.getPersistentRDDs.keySet -- before
    go.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("; "))
    assert(live.size == 2, s"live staged inputs: $live")
    assert(ids(0).sorted == (0L until 300L))
    assert(ids(1).sorted == (1000L until 1200L))
    assert(sc.getPersistentRDDs.keySet == before)
  }
}
