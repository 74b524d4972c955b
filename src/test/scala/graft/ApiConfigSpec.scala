package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ApiConfig

class ApiConfigSpec extends AnyFunSuite {

  private val accountsJson =
    """[{"tenant":"t1","email":"a@x.test","password":"p1"},
        {"tenant":"t2","email":"b@x.test","password":"p2"}]"""

  test("defaults mirror the reference env contract") {
    val cfg = ApiConfig.fromEnv(Map("CALLIO_ACCOUNTS_JSON" -> accountsJson))
    assert(cfg.baseUrl == "https://clientapi.phonenet.io")
    assert(cfg.timeoutSec == 90 && cfg.pageSize == 500)
    assert(cfg.timeSliceMs == 24L * 3600 * 1000)
    assert(cfg.minSliceMs == 3600 * 1000L)
    assert(cfg.findAccount("t2").map(_.email).contains("b@x.test"))
    assert(cfg.findAccount("nope").isEmpty)
  }

  test("overrides, quote-stripping, and the file source winning over inline") {
    val f = java.nio.file.Files.createTempFile("accounts", ".json")
    f.toFile.deleteOnExit()
    java.nio.file.Files.writeString(f,
      """[{"tenant":"tf","email":"f@x.test","password":"pf"}]""")
    val cfg = ApiConfig.fromEnv(Map(
      "CALLIO_API_BASE_URL" -> "http://localhost:1",
      "API_TIMEOUT" -> "5",
      "API_PAGE_SIZE" -> "50",
      "API_TIME_SLICE_MS" -> "60000",
      "API_MIN_SLICE_MS" -> "1000",
      "CALLIO_ACCOUNTS_JSON" -> s"'$accountsJson'", // quoted, like a .env value
      "CALLIO_ACCOUNTS_FILE" -> f.toString))
    assert(cfg.baseUrl == "http://localhost:1" && cfg.timeoutSec == 5)
    assert(cfg.timeSliceMs == 60000L && cfg.minSliceMs == 1000L)
    assert(cfg.accounts.map(_.tenant) == Seq("tf"),
      "CALLIO_ACCOUNTS_FILE must win over the inline JSON")
    val inline = ApiConfig.fromEnv(Map(
      "CALLIO_ACCOUNTS_JSON" -> s"'$accountsJson'"))
    assert(inline.accounts.map(_.tenant) == Seq("t1", "t2"),
      "surrounding quotes must be stripped from the inline value")
  }

  test("missing or malformed credentials fail loudly") {
    val e1 = intercept[RuntimeException] { ApiConfig.fromEnv(Map.empty) }
    assert(e1.getMessage.contains("CALLIO_ACCOUNTS_JSON"))
    intercept[RuntimeException] {
      ApiConfig.fromEnv(Map("CALLIO_ACCOUNTS_JSON" -> "{not json"))
    }
    intercept[RuntimeException] {
      ApiConfig.fromEnv(Map("CALLIO_ACCOUNTS_JSON" -> """{"tenant":"x"}"""))
    }
    intercept[RuntimeException] {
      ApiConfig.fromEnv(Map("CALLIO_ACCOUNTS_JSON" -> """[{"tenant":"x"}]"""))
    }
    intercept[RuntimeException] {
      ApiConfig.fromEnv(Map(
        "CALLIO_ACCOUNTS_JSON" -> accountsJson, "API_TIMEOUT" -> "soon"))
    }
  }

  test("fetcherFor wires the tenant's credentials into the retrying client") {
    val cfg = ApiConfig.fromEnv(Map("CALLIO_ACCOUNTS_JSON" -> accountsJson))
    assert(cfg.fetcherFor("t1") != null)
    val e = intercept[RuntimeException] { cfg.fetcherFor("absent") }
    assert(e.getMessage.contains("absent"))
  }
}
