package graft.run

import java.nio.file.{Files, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

class PipelineJobSpec extends AnyFunSuite {

  test("default run and an explicit copy of flagship.yaml share one config identity") {
    val dir = Files.createTempDirectory("flagship_cfg")
    val copy = dir.resolve("flagship.yaml")
    val in = getClass.getResourceAsStream("/flagship.yaml")
    try Files.copy(in, copy, StandardCopyOption.REPLACE_EXISTING) finally in.close()

    val (defaultModel, defaultCfg, defaultWindow) = PipelineJob.parseExtraArgs(Array())
    val (fileModel, fileCfg, fileWindow) =
      PipelineJob.parseExtraArgs(Array(copy.toString))
    // same fan-out fingerprint text: each run resumes the other's sinks
    assert(PipelineJob.configIdentity(defaultModel) ==
      PipelineJob.configIdentity(fileModel))
    assert(defaultWindow == fileWindow)
    // metric_* outputs stay tied to an explicitly passed config file
    assert(defaultCfg.isEmpty && fileCfg.exists(_.metrics.nonEmpty))
  }
}
