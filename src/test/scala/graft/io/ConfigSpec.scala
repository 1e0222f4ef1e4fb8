package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** R5 typed env config (reference main.py:55-72
  * `obtener_variable_entorno`): required validation, empty-is-missing,
  * defaults, the typed int getter with an actionable parse error. */
class ConfigSpec extends AnyFunSuite {

  private val cfg = new Config(Map(
    "DB_HOST" -> "db.example.internal",
    "EMPTY" -> "",
    "PORT" -> "1433",
    "BAD_INT" -> "eleven"))

  test("required: present, missing, and empty-counts-as-missing") {
    assert(cfg.required("DB_HOST") === "db.example.internal")
    val missing = intercept[Config.MissingVarError](cfg.required("NOPE"))
    assert(missing.getMessage.contains("'NOPE'"))
    assert(missing.getMessage.contains("not found"))
    // the reference treats set-but-empty as missing (main.py:67)
    intercept[Config.MissingVarError](cfg.required("EMPTY"))
  }

  test("optional: default on missing AND on empty") {
    assert(cfg.optional("DB_HOST", "x") === "db.example.internal")
    assert(cfg.optional("NOPE", "fallback") === "fallback")
    assert(cfg.optional("EMPTY", "fallback") === "fallback")
    assert(cfg.optional("NOPE") === "") // main.py:72 `valor or ""`
  }

  test("typed getter: int with a default") {
    assert(cfg.int("PORT", 1) === 1433)
    assert(cfg.int("NOPE", 7) === 7)
    assert(cfg.int("EMPTY", 7) === 7)
  }

  test("malformed typed value: error names the variable and the value") {
    val e = intercept[IllegalArgumentException](cfg.int("BAD_INT", 1))
    assert(e.getMessage.contains("'BAD_INT'"))
    assert(e.getMessage.contains("'eleven'"))
  }

  test("validateRequired: reports every missing variable at once") {
    cfg.validateRequired("DB_HOST", "PORT") // no throw
    val e = intercept[Config.MissingVarError](
      cfg.validateRequired("DB_HOST", "MISSING_A", "EMPTY"))
    assert(e.getMessage.contains("'MISSING_A'"))
    assert(e.getMessage.contains("'EMPTY'"))
    assert(!e.getMessage.contains("DB_HOST"))
  }
}
