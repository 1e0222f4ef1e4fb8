package graft.io

/** Typed environment configuration (R5, reference main.py:55-72
  * `obtener_variable_entorno`): required-variable validation with an
  * actionable error, optional variables with defaults, and a typed
  * integer getter — the piece the reference uses to fail fast on a
  * missing `.env` instead of dying mid-run with a None credential.
  *
  * Mirrors the reference's semantics exactly: a variable that is set
  * but EMPTY counts as missing (`if obligatoria and not valor`), and
  * the missing-required error names the variable and tells the
  * operator what to do. The integer getter adds the engine-side need
  * the Python original delegated to call sites: a malformed value
  * fails with the variable name and offending value, not a
  * bare NumberFormatException.
  *
  * The environment is injected (default `sys.env`) so specs can
  * exercise validation without mutating JVM process state.
  */
final class Config(env: Map[String, String]) {

  private def present(name: String): Option[String] =
    env.get(name).filter(_.nonEmpty)

  /** Required variable: present and non-empty, else
    * [[Config.MissingVarError]] (main.py:67-70). */
  def required(name: String): String =
    present(name).getOrElse(throw new Config.MissingVarError(name))

  /** Optional variable with a default; empty counts as unset
    * (main.py:72 `valor or ""`). */
  def optional(name: String, default: String = ""): String =
    present(name).getOrElse(default)

  /** Integer variable with a default; a malformed value fails with the
    * variable name and the offending value. */
  def int(name: String, default: Int): Int =
    present(name).map(v => v.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"Environment variable '$name' must be an integer, got '$v'.")))
      .getOrElse(default)

  /** Validate a set of required variables up front — the reference's
    * fail-fast posture (it resolves all credentials at import time,
    * main.py:75-86): report EVERY missing name in one error rather
    * than dying one variable at a time. */
  def validateRequired(names: String*): Unit = {
    val missing = names.filterNot(n => present(n).isDefined)
    if (missing.nonEmpty) throw new Config.MissingVarError(missing: _*)
  }
}

object Config {

  /** Missing required environment variable(s) — message mirrors the
    * reference's actionable wording (main.py:68-70). */
  final class MissingVarError(names: String*) extends RuntimeException(
    s"Environment variable${if (names.length > 1) "s" else ""} " +
      names.mkString("'", "', '", "'") +
      " not found. Set " +
      (if (names.length > 1) "them" else "it") +
      " in the environment (or the deployment's .env) before running.")

  /** Process-environment-backed instance — the production entry. */
  def fromEnv: Config = new Config(sys.env)
}
