package graft.perfbench

/** One timed operation: a `SparkEntry` query and the program modules its
  * query function delegates to (the layers its latency is charged to). */
case class Op(name: String, modules: Seq[String])

/** A workload: its op list, run as one closed-loop pass. Its tables are
  * generated by perfbench/gen.py before the JVM starts. */
case class Workload(name: String, ops: Seq[Op])

object Workloads {

  private def op(name: String, modules: String*) = Op(name, modules)

  val physioLong = Workload("physio_long",
    Seq(
      op("q35_filtfilt", "kernels"),
      op("q98_pantompkins_split", "kernels"),
      op("q49_correct_interval", "sqa", "kernels"),
      op("q59_cvxeda", "kernels"),
      op("q39_hrv_td", "sqa")))

  val iteratePersist = Workload("iterate_persist",
    Seq(
      op("q153_pagerank", "ops"),
      op("q118_decontam_bloom", "llm", "functions"),
      op("q327_classifier_persist", "llm")))

  val all: Seq[Workload] = Seq(physioLong, iteratePersist)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
