package graft.perfbench

import java.nio.file.{Files, Paths}

/** Answers of a seeded request stream, compared across runs: the first
  * run of a seed records one digest per request, and every later run of
  * that seed must reproduce the digests they share.
  */
object Answers {
  def sameAsFirstRun(run: Run, digests: Seq[String]): Unit = {
    val path = Paths.get(s"${run.keepDir}/answers/${run.workload}-${run.seed}.txt")
    if (Files.exists(path)) {
      val first = Files.readAllLines(path).toArray(Array.empty[String]).toSeq
      first.zip(digests).zipWithIndex.find { case ((a, b), _) => a != b }
        .foreach { case (_, i) => run.wrong(s"request $i", "answer differs from the first run of this seed") }
      if (digests.size > first.size)
        Files.writeString(path, digests.mkString("", "\n", "\n"))
    } else {
      Files.createDirectories(path.getParent)
      Files.writeString(path, digests.mkString("", "\n", "\n"))
    }
  }
}
