package graft.norm

import java.text.Normalizer

/** Column-name normalization.
  *
  * Re-expresses the reference's `limpiar_nombre_columna`
  * (reference main.py:386-422): NFKD-decompose and strip accents
  * (`ñ`→`n`, `á`→`a`), `%`→`pct_`, non-alphanumerics→`_`, collapse
  * runs of `_`, trim leading/trailing `_`, lowercase.
  *
  * Pure Scala (metadata-only): column renames never touch Catalyst,
  * so at 100 TB this is free — `df.toDF(cols.map(normalizeName): _*)`
  * is a projection-name change, not a data pass.
  */
object Names {

  def normalizeName(raw: String): String = {
    val noAccents = Normalizer
      .normalize(raw, Normalizer.Form.NFKD)
      .replaceAll("\\p{M}+", "")     // drop combining marks left by NFKD
      .replaceAll("[^\\p{ASCII}]", "") // reference DROPS undecomposable
                                       // non-ASCII (encode('ASCII','ignore'))
    noAccents
      // '%' plus trailing whitespace -> 'pct_' INLINE, no separator
      // inserted (reference re.sub(r'%\s*', 'pct_')): '100%' ->
      // '100pct', '% In' -> 'pct_in'. A space-padded replacement would
      // rename '100%' to '100_pct' and miss rename-map keys.
      .replaceAll("%\\s*", "pct_")
      .replaceAll("[^a-zA-Z0-9]", "_")
      .replaceAll("_+", "_")
      .stripPrefix("_")
      .stripSuffix("_")
      .toLowerCase
  }
}
